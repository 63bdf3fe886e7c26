package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.12 (EXT) — deduplication operators: exact, normalized,
  * shingle-Jaccard (exact near-dup), MinHash + banded LSH (approximate
  * near-dup at scale), SimHash.
  *
  * Scale design: every pipeline here is a sequence of per-row expressions,
  * one explode, and key-partitioned joins/aggregations — no cross join ever.
  * The shingle join shuffles on the shingle string; high-document-frequency
  * shingles (stop-shingles) are dropped by `maxDf` so no single key explodes
  * quadratically at 100 TB (the classic skew guard in MinHash literature).
  */
object Dedup {
  /** Modulus for the MinHash permutation family: < 2^30 so `a*h+b` stays well
    * inside 63 bits (DuckDB-checkable — no wrapping multiply). */
  val P: Long = 1000000007L
  val NumHashes = 32
  val Bands = 8
  val RowsPerBand: Int = NumHashes / Bands

  /** Exact dedup: keep the lowest id per identical key
    * (the analog of the reference's unique indexes, init.sql:13-14). */
  def exactDedup(df: DataFrame, idCol: String, keyCol: Column): DataFrame =
    df.groupBy(keyCol.as("key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** (doc_id, shingle) pairs, distinct per doc, with stop-shingles removed. */
  def docShingles(docs: DataFrame, idCol: String, textCol: String,
                  n: Int, maxDf: Long): DataFrame = {
    val sh = docs
      .select(col(idCol), explode(
        TextOps.distinctShingles(TextOps.tokens(col(textCol)), n)).as("shingle"))
    if (maxDf <= 0) sh
    else {
      // document-frequency filter as a plain anti-join on the shingle key —
      // deliberately NO broadcast() hint: the hot-shingle set (df > maxDf) is
      // tiny at test scale but corpus-sized on a 100 TB crawl, and a forced
      // broadcast would collect it to the driver (the exact OOM this guard
      // exists to prevent). AQE still broadcasts at runtime when the
      // aggregate output is actually small; otherwise the anti-join degrades
      // gracefully to a shuffle on the shingle key.
      val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select("shingle")
      sh.join(hot, Seq("shingle"), "left_anti")
    }
  }

  /** Exact shingle-Jaccard near-dup pairs: candidate pairs share ≥1 shingle
    * (shuffle-join on shingle), then J(A,B) = |A∩B| / (|A|+|B|-|A∩B|).
    * Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    *
    * Shape: the per-doc set size is computed BEFORE the explode and carried
    * through the join, so the whole pipeline is one explode + one self-join
    * + one aggregate — no separate sizes aggregation, no post-join size
    * joins, nothing cached (a library operator returning a lazy plan must
    * not pin executor memory). */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxDf: Long = 0): DataFrame = {
    val shingles = TextOps.distinctShingles(TextOps.tokens(col(textCol)), n)
    val base = docs.select(col(idCol), shingles.as("__sh"))
      .select(col(idCol), size(col("__sh")).as("n_sh"),
        explode(col("__sh")).as("shingle"))
    // maxDf prunes candidate GENERATION only: intersections count surviving
    // shingles while set sizes stay full, so estimated jaccard is a lower
    // bound — the conservative direction for a dedup threshold.
    val sh =
      if (maxDf <= 0) base
      else {
        // no broadcast() hint — see docShingles: the hot set is unbounded at
        // corpus scale, so the anti-join must be free to shuffle on the
        // shingle key (AQE still broadcasts small aggregates at runtime).
        val hot = base.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("shingle")
        base.join(hot, Seq("shingle"), "left_anti")
      }
    sh.as("a").join(sh.as("b"), col("a.shingle") === col("b.shingle"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("c"), max(col("a.n_sh")).as("na"), max(col("b.n_sh")).as("nb"))
      .withColumn("jaccard", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** MinHash signature as a per-row expression: sig[i] = min over distinct
    * tokens of ((aᵢ·h + bᵢ) mod P), h = 60-bit md5-derived token hash.
    * No shuffle — O(k·|tokens|) per row, embarrassingly parallel. */
  def minhashSignature(toks: Column): Column = {
    val hashes = transform(array_distinct(toks), t => TextOps.tokenHash(t) % P)
    transform(sequence(lit(0), lit(NumHashes - 1)), i =>
      array_min(transform(hashes, h => (h * (i * 2 + 3) + (i * 5 + 7)) % P)))
  }

  /** Banded LSH: hash each band of the signature; docs colliding in any band
    * are near-dup candidates. bands=8 × rows=4 targets J ≈ 0.6+. */
  def bandHashes(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)), b =>
      md5(array_join(
        transform(slice(sig, b * RowsPerBand + 1, lit(RowsPerBand)), x => x.cast("string")),
        ",")))

  /** MinHash signature via explode + aggregate — the throughput path. The
    * per-row higher-order-function variant (`minhashSignature`) evaluates
    * interpreted lambdas (HOFs don't participate in codegen); this shape
    * instead computes the shingle hash in a codegen'd projection and folds
    * the 32 permutation minimums in a hash aggregate with map-side partials,
    * shuffling one 32-long row per document. Identical output. */
  def minhashSignatureAgg(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int, maxDf: Long = 0): DataFrame =
    // maxDf > 0 drops stop-shingles (document frequency > maxDf) BEFORE the
    // signature: a shingle shared by the whole corpus carries no near-dup
    // signal but makes every pair band-collide — the classic skew guard.
    sigAggFromShingles(docShingles(docs, idCol, textCol, shingleN, maxDf), idCol)

  /** Signature aggregate over a prepared (id, shingle) table — split out so
    * cross-corpus dedup can apply ONE consistent stop-shingle filter to both
    * sides before the signatures are folded. */
  private def sigAggFromShingles(sh: DataFrame, idCol: String): DataFrame = {
    val h = sh.withColumn("h", TextOps.tokenHash(col("shingle")) % P)
    val mins = (0 until NumHashes).map(i =>
      min((col("h") * (i * 2 + 3) + (i * 5 + 7)) % P).as(s"s_$i"))
    h.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until NumHashes).map(i => col(s"s_$i")): _*).as("sig"))
  }

  /** (id, band_id, band_hash) from a signature table. */
  private def bandsFromSig(sig: DataFrame, idCol: String): DataFrame =
    sig.select(col(idCol),
      posexplode(bandHashes(col("sig"))).as(Seq("band_id", "band_hash")))

  /** (doc_id, band_id, band_hash) — the LSH index table. MinHash runs over
    * 3-gram shingles, not tokens: token sets of same-domain documents overlap
    * heavily (background Jaccard ≈ 0.5+ on a shared vocabulary), which would
    * make every band collide; shingle sets keep background similarity low. */
  def minhashBandTable(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, maxDf: Long = 0): DataFrame =
    minhashSignatureAgg(docs, idCol, textCol, shingleN, maxDf)
      .select(col(idCol),
        posexplode(bandHashes(col("sig"))).as(Seq("band_id", "band_hash")))

  /** Candidate near-dup pairs from band collisions (doc_a < doc_b, distinct).
    * The join shuffles on (band_id, band_hash) — collision groups are small
    * by construction, so no quadratic key at scale. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, maxDf: Long = 0): DataFrame = {
    // Lazily materialize the band table (the LSH "index", orders of
    // magnitude smaller than the corpus) so the corpus-wide shingle
    // explode + df-guard + signature agg upstream of it executes exactly
    // ONCE per action: without the cut, each side of the self-join
    // re-runs the whole subtree whenever ReuseExchange fails to fire,
    // which measured as 2-4× within-JVM variance on q36/q53.
    // `eager = false` keeps this operator lazy (no action at build time);
    // the checkpoint materializes on first execution and both join sides
    // share the pinned RDD. The pin holds the COMPACT per-doc band ARRAY
    // (one row per doc, bands precomputed — the explode after the pin is
    // flop-free), not the exploded N×Bands row form: caching Bands× the
    // row objects is the GC-amplified pin cost the round-10 decade curve
    // measured on embeddingNearDups (same pattern, same fix).
    val bandArr = minhashSignatureAgg(docs, idCol, textCol, shingleN, maxDf)
      .select(col(idCol), bandHashes(col("sig")).as("__bands"))
      .localCheckpoint(eager = false)
    val bt = bandArr.select(col(idCol),
      posexplode(col("__bands")).as(Seq("band_id", "band_hash")))
    bt.as("a").join(bt.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
  }

  /** Scale-safe exact-Jaccard near-dups: MinHash banded LSH prunes the
    * candidate space (`minhashCandidates` — no all-pairs join), then exact
    * Jaccard verifies each surviving pair over the full shingle sets.
    *
    * This is the standard two-phase design for corpus dedup at scale
    * (candidate generation + verification): the shingle self-join in
    * `jaccardPairs` is quadratic in shingle-collision-group size and dies
    * first at 100 TB, while here the expensive exact comparison runs only on
    * |candidates| pairs — a set bounded by band-bucket collisions. Recall is
    * that of the band scheme (8 bands × 4 rows targets J ≥ ~0.6 with high
    * probability; pairs barely at 0.5 may be missed — the documented
    * approximate contract, same as every production MinHash dedup).
    *
    * Shape: band table (explode + hash-agg) → self-join on (band, hash) →
    * distinct pairs → two key-joins back to per-doc shingle arrays →
    * per-row `array_intersect`. No cross join, no quadratic key. */
  def minhashVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 3, threshold: Double = 0.5,
                           maxDf: Long = 0): DataFrame = {
    // maxDf prunes candidate GENERATION only (the signature): the exact
    // verify below runs on FULL shingle sets, so reported jaccard values are
    // unaffected — only recall of pairs glued together solely by
    // stop-shingles drops, the conservative direction for dedup.
    // lazily pin the (tiny) candidate-pair set too: the verify stage and any
    // downstream closure (dedupCorpus) then never re-execute the band
    // pipeline — total corpus passes per action are fixed at the two `sets`
    // joins plus the single band-table build.
    val cand = minhashCandidates(docs, idCol, textCol, shingleN, maxDf)
      .localCheckpoint(eager = false)
    // Verify touches only docs that appear in some candidate pair: semi-join
    // the corpus against the candidate id set (read from the pinned RDD,
    // so no band-pipeline re-execution) BEFORE recomputing shingle sets.
    // The two verify joins still cost one corpus scan each, but the scan
    // now emits shingle sets for |candidate docs| rows, not |corpus| — at
    // 100 TB candidates are the near-dup neighborhoods, orders of magnitude
    // smaller than the corpus, and the expensive split/distinct and the
    // join build shrink proportionally. AQE broadcasts the id set when it
    // is small and falls back to a shuffled semi-join when it is not.
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as(idCol)).distinct()
    // pinned (round-12): `sets` is referenced by BOTH verify joins, so the
    // candidate docs' tokenize+shingle pass — the per-row-expensive kernel
    // — ran twice per action; the lazy pin holds |candidate docs| compact
    // shingle arrays (the same bounded class as the band-array pin above)
    // and each join side re-aliases the pinned columns, so no attribute-id
    // conflict (the q311 checkpoint-join lesson)
    val sets = docs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("__sid"),
        TextOps.distinctShingles(TextOps.tokens(col(textCol)), shingleN).as("sh"))
      .localCheckpoint(eager = false)
    cand
      .join(sets.select(col("__sid").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("__sid").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** 32-bit SimHash from md5-derived token bits: bit_j(doc) = sign of
    * Σ_tokens (bit_j(token) ? +1 : -1). Near-identical docs land on
    * near-identical simhashes (small Hamming distance).
    *
    * Native [[graft.functions.SimHash32]] expression (one md5 + tight bit
    * loop per token, whole-stage codegen): the former HOF formulation nested
    * `transform`/`aggregate`/`zip_with` — a boxed 32-element bit vector per
    * token folded by interpreted lambdas, the per-row kernel of a corpus-wide
    * pass at 100 TB. Output bits are identical (same md5-derived hash, same
    * strict sign rule), so the external oracles are unchanged. */
  def simhash32(toks: Column): Column =
    exprColumn(graft.functions.SimHash32(asExpr(toks)))

  private def exprColumn(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftColumnBridge.column(e)
  private def asExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)

  /** Hamming distance between two simhash values (bit_count of XOR). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with EXACT recall for `maxHamming ≤ nBands-1`:
    * split the 32-bit simhash into `nBands` bands of 32/nBands bits — by
    * pigeonhole, any pair within hamming ≤ nBands-1 leaves at least one band
    * untouched, so the band-equality join misses nothing. Candidates then
    * verify `bit_count(xor) ≤ maxHamming` exactly. Same two-phase shape as
    * every near-dup pipeline here: band join on small keys, per-pair verify,
    * no all-pairs join (identical docs all share all bands — the worst key
    * is the exact-dup group, bounded by upstream exact dedup). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, nBands: Int = 4): DataFrame = {
    require(maxHamming < nBands, "pigeonhole exactness needs maxHamming <= nBands-1")
    val bits = 32 / nBands
    val sh = docs.select(col(idCol), simhash32(TextOps.tokens(col(textCol))).as("sh"))
    // simhash32 is non-negative (< 2^32), so shiftright == integer division
    val banded = sh.select(col(idCol), col("sh"),
      posexplode(array((0 until nBands).map(b =>
        shiftright(col("sh"), b * bits) % (1L << bits)): _*))
        .as(Seq("band_id", "band_val")))
    banded.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_val") === col("b.band_val") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        hamming(col("a.sh"), col("b.sh")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** MLlib-native near-dup variant: shingles → HashingTF (2^18 binary
    * features) → `MinHashLSH.approxSimilarityJoin`. Same contract as
    * `minhashCandidates` through Spark's built-in LSH machinery (OR-amplified
    * hash tables, self-join pruning). Distances are Jaccard distances over
    * HASHED shingle space, so the returned `jaccard_est` is approximate where
    * feature collisions occur. Deterministic via fixed seed. */
  def mlMinhashPairs(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, minJaccard: Double = 0.6,
                     numHashTables: Int = 8): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val shingled = docs.select(col(idCol),
        TextOps.distinctShingles(TextOps.tokens(col(textCol)), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
    val tf = new HashingTF().setInputCol("sh").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val feats = tf.transform(shingled)
    val lsh = new MinHashLSH().setNumHashTables(numHashTables).setSeed(42L)
      .setInputCol("features").setOutputCol("hashes")
    val model = lsh.fit(feats)
    model.approxSimilarityJoin(feats, feats, 1.0 - minJaccard, "dist")
      .filter(col(s"datasetA.$idCol") < col(s"datasetB.$idCol"))
      .select(col(s"datasetA.$idCol").as("doc_a"),
        col(s"datasetB.$idCol").as("doc_b"),
        (lit(1.0) - col("dist")).as("jaccard_est"))
  }

  /** Remove near-duplicates given a pair list (doc_a < doc_b): greedily keep
    * the lower id of every pair — the standard single-pass policy for
    * training-corpus dedup (chains change results only where a<b, b<c but
    * the a-c pair was missed; see `connectedComponents` for the closure).
    * Implemented as one anti-join: scalable. */
  def removeNearDups(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    docs.join(pairs.select(col("doc_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Edit-distance (Levenshtein) near-dup pairs — the fuzzy-matching member
    * of the dedup family: catches small character-level edits (typos, OCR
    * noise, template fill-ins) that shingle-Jaccard's fixed n-gram windows
    * under-weight. Semantics: same-`blockCol` pairs with
    * |len(a) − len(b)| ≤ maxDist and levenshtein(a, b) ≤ maxDist,
    * canonically ordered idA < idB.
    *
    * Scale shape: candidate generation is LENGTH BANDING, not a cross join —
    * a pair within maxDist of edits is within maxDist of length, so the left
    * side emits its len-div-maxDist band ±1 and the right side keys on its
    * own band: every qualifying pair matches on exactly ONE emitted band (no
    * distinct needed), candidate volume is bounded by the per-(block, band)
    * occupancy, and the verify step uses Spark's THRESHOLDED `levenshtein`
    * (banded DP, O(maxDist·min(m,n)) with early exit → −1 above the bound)
    * rather than the full O(m·n) matrix. */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, maxDist: Int = 15): DataFrame = {
    require(maxDist >= 1, "need maxDist >= 1")
    val base = docs.select(col(idCol), col(blockCol), col(textCol),
      length(col(textCol)).as("__len"))
    val left = base
      .withColumn("__band",
        explode(sequence(expr(s"__len div $maxDist") - 1, expr(s"__len div $maxDist") + 1)))
      .select(col(idCol).as("id_a"), col(blockCol), col(textCol).as("__ta"),
        col("__len").as("__la"), col("__band"))
    val right = base
      .select(col(idCol).as("id_b"), col(blockCol), col(textCol).as("__tb"),
        col("__len").as("__lb"), expr(s"__len div $maxDist").as("__band"))
    left.join(right, Seq(blockCol, "__band"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .withColumn("lev", levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("lev") >= 0)
      .select(col("id_a"), col("id_b"), col(blockCol), col("lev"))
  }

  /** Connected components over a near-dup pair list (doc_a, doc_b) →
    * (id, comp) with comp = the minimum id in each component — the closure
    * that collapses CHAINS of near-dups (a~b, b~c ⇒ {a,b,c} share one keep
    * id even if the a-c pair was never emitted).
    *
    * Min-label propagation: each iteration is two shuffles (edge join +
    * min-aggregate), converging in ≤ component-diameter iterations — dedup
    * chains are shallow, so `maxIter` 20 covers real corpora (the loop exits
    * at the fixpoint, so unused headroom costs nothing). Iterative
    * DataFrames need their lineage cut per step (`localCheckpoint`), and the
    * fixpoint test is an action per iteration — the documented exception to
    * the no-eager-actions rule for fixpoint operators. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val it = new Iterate("connectedComponents labels")
    // materialize the edge list ONCE — without this every iteration's join
    // re-executes the entire upstream candidate/verify pipeline. Pinned on
    // the iteration join key (the Iterate discipline: only the node-sized
    // labels move per round; eager count so the first iteration doesn't
    // pay the build).
    // symmetrize with ONE pass over the pair list (round-12, guide §1.2
    // "don't compute things you throw away"): the former
    // `pairs.union(pairs.swapped)` executed the ENTIRE upstream pair
    // pipeline — candidate generation + exact verify, the expensive part
    // of every caller — once per union branch during the pin's
    // materialization; emitting both directions from a single scan via
    // explode produces the identical edge multiset in one execution
    val edges = it.pinOn(pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst")),
      "src", sorted = false)
    edges.count(): Unit
    var labels = it.cut(edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")))
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val prop = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("comp").as("ncomp"))
      // carry the previous label THROUGH the propagation join so the
      // convergence test reads the just-checkpointed blocks instead of
      // re-joining next against labels — one shuffle join fewer per
      // iteration, same fixpoint, same labels (round-12 optimization;
      // the old shape ran join+agg, checkpoint, then a second
      // convergence join per round)
      val next = it.cut(labels.join(prop, Seq("id"), "left_outer")
        .select(col("id"), col("comp").as("__prev"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp")))
      converged = next.filter(col("__prev") =!= col("comp")).isEmpty
      labels = next.select(col("id"), col("comp"))
      i += 1
    }
    // `labels` is a projection of the last eager cut, so it is returned as
    // is; the edge pin and the earlier cuts are released
    it.finish(labels, materialize = false)
  }

  /** End-to-end corpus dedup: exact-duplicate collapse → MinHash-verified
    * near-dup pairs over the representatives → component closure → keep
    * exactly the minimum id per component.
    *
    * The exact pre-pass is a SCALE requirement, not an optimization: all k
    * members of an identical-text group share every band hash, so feeding
    * raw docs into the band self-join makes an O(k²) candidate key — a
    * boilerplate page duplicated 10⁶ times at 100 TB is a ~10¹²-pair key.
    * Collapsing each text group to its min-id representative first keeps
    * band keys bounded by GENUINE near-dup collision groups.
    *
    * The verdict set is unchanged: identical docs (with ≥ shingleN tokens)
    * are Jaccard-1.0 pairs, so in the un-collapsed graph each text group is
    * a clique whose members share all the rep's neighbors; the full
    * component's min id equals the min over its reps (each rep is its
    * group's min). Docs shorter than shingleN tokens have no shingles, form
    * no pairs in either formulation, and are always kept. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3, threshold: Double = 0.5,
                  maxDf: Long = 0): DataFrame = {
    // one (id, 16-byte md5) row per shingle-able doc, PINNED (round-12,
    // guide §1.2): repIds, memberDrop and reps each referenced the
    // tokenize+md5 subtree separately, so the corpus-wide tokenize pass —
    // the expensive kernel — executed once per reference (2× in the final
    // anti-join plan alone, plus once per verify/closure materialization).
    // The pin is two columns per doc; every derivation below re-aliases,
    // so no attribute-id conflict (q311 checkpoint-join lesson). Same
    // rows kept/dropped: the fingerprint and eligibility math is
    // unchanged, only how often it runs.
    val fp = docs
      .filter(size(TextOps.tokens(col(textCol))) >= shingleN)
      .select(col(idCol).as("__fpid"), md5(col(textCol)).as("__fp"))
      .localCheckpoint(eager = false)
    // one representative (min id) per exact text group; md5 keeps the
    // groupBy key 16 bytes instead of the full document
    val repIds = fp
      .groupBy(col("__fp"))
      .agg(min(col("__fpid")).as(idCol))
      .select(idCol)
    // non-representative members of exact groups: always dropped (their rep
    // has the smaller id and Jaccard 1.0)
    val memberDrop = fp.select(col("__fpid").as(idCol))
      .join(repIds, Seq(idCol), "left_anti")
    val reps = docs.join(repIds, Seq(idCol), "left_semi")
    val pairs = minhashVerifiedPairs(reps, idCol, textCol, shingleN, threshold, maxDf)
    val comps = connectedComponents(pairs)
    val repDrop = comps.filter(col("id") =!= col("comp")).select(col("id").as(idCol))
    docs.join(memberDrop.union(repDrop), Seq(idCol), "left_anti")
  }

  /** [[dedupCorpus]] with a QUALITY-AWARE keep policy: each duplicate
    * cluster keeps its best-scoring document (ties → lowest id) instead of
    * the lowest id — the published recipe when dedup follows quality scoring
    * (keep the cleanest copy of a boilerplate family, not the first-crawled
    * one). Same candidate/verify/closure machinery; the only additions are
    * a doc→cluster mapping (exact-group rep → component label, identity for
    * singletons and un-shingleable docs) and ONE window over cluster-sized
    * partitions ordered by (score desc, id) — hash-partitioned on the
    * cluster key, never global. */
  def dedupCorpusKeepBest(docs: DataFrame, idCol: String, textCol: String,
                          score: Column, shingleN: Int = 3,
                          threshold: Double = 0.5, maxDf: Long = 0): DataFrame = {
    // the dedupCorpus fingerprint pin (round-12): repOfGroup, docRep and
    // reps each re-ran the corpus tokenize+md5 subtree; pin the tiny
    // (id, fp) table once and derive all three from it
    val fp = docs
      .filter(size(TextOps.tokens(col(textCol))) >= shingleN)
      .select(col(idCol).as("__fpid"), md5(col(textCol)).as("__fp"))
      .localCheckpoint(eager = false)
    val repOfGroup = fp.groupBy(col("__fp")).agg(min(col("__fpid")).as("__rep"))
    val docRep = fp.join(repOfGroup, Seq("__fp"))
      .select(col("__fpid").as(idCol), col("__rep"))
    val reps = docs.join(repOfGroup.select(col("__rep").as(idCol)), Seq(idCol), "left_semi")
    val pairs = minhashVerifiedPairs(reps, idCol, textCol, shingleN, threshold, maxDf)
    val comps = connectedComponents(pairs)
    val clusterOf = docRep
      .join(comps.withColumnRenamed("id", "__rep"), Seq("__rep"), "left")
      .select(col(idCol), coalesce(col("comp"), col("__rep")).as("__cluster"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cluster")).orderBy(score.desc, col(idCol).asc)
    docs.join(clusterOf, Seq(idCol), "left")
      .withColumn("__cluster", coalesce(col("__cluster"), col(idCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__cluster")
  }

  /** Incremental (batch-vs-corpus) dedup — drop from a NEW ingest batch
    * every document that exactly or nearly duplicates the EXISTING corpus:
    * the daily-ingest shape at 100 TB, where re-running full-corpus dedup
    * per arrival is impossible. Batch-internal duplicates are a separate
    * concern — compose with `dedupCorpus(batch)` when both are wanted.
    *
    * Phases:
    *  1. exact — batch rows whose normalized fingerprint exists in the
    *     corpus are dropped (anti-join on a 16-byte md5 key; AQE broadcasts
    *     the batch side when small).
    *  2. near — banded MinHash candidates BETWEEN batch and corpus: the
    *     band equi-join is batch-bands ⋈ corpus-bands, never a self-join of
    *     the union, so the quadratic term is |batch×corpus collisions| per
    *     bucket, bounded by band selectivity exactly as in the self-join
    *     case. Verified with exact Jaccard over full shingle sets of
    *     CANDIDATE docs only (both sides semi-joined down to candidate ids
    *     first). In production the corpus band table is the write-once
    *     artifact this operator's shape assumes (`writeBucketed` on
    *     (band_id, band_hash)); here it is derived inline.
    *
    * Stop-shingle discipline: with maxDf > 0 the hot set comes from the
    * CORPUS document-frequency distribution (the stable reference) and the
    * SAME set is removed from both sides before signatures — per-side df
    * stats would make the two sides' signatures incomparable. */
  def dedupAgainstCorpus(corpus: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 3, threshold: Double = 0.5,
                         maxDf: Long = 0): DataFrame = {
    val corpusFp = corpus.select(TextOps.fingerprint(col(textCol)).as("__fp"))
    val exactSurvivors = batch
      .select(col(idCol), TextOps.fingerprint(col(textCol)).as("__fp"))
      .join(corpusFp, Seq("__fp"), "left_anti")
      .select(idCol)
    val b1 = batch.join(exactSurvivors, Seq(idCol), "left_semi")
    val cSh0 = docShingles(corpus, idCol, textCol, shingleN, 0)
    val bSh0 = docShingles(b1, idCol, textCol, shingleN, 0)
    val (cSh, bSh) =
      if (maxDf <= 0) (cSh0, bSh0)
      else {
        // corpus-derived hot set, no broadcast hint (see docShingles)
        val hot = cSh0.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("shingle")
        (cSh0.join(hot, Seq("shingle"), "left_anti"),
          bSh0.join(hot, Seq("shingle"), "left_anti"))
      }
    val bBands = bandsFromSig(sigAggFromShingles(bSh, idCol), idCol)
      .localCheckpoint(eager = false)
    val cBands = bandsFromSig(sigAggFromShingles(cSh, idCol), idCol)
    val cand = bBands.as("a").join(cBands.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash"))
      .select(col(s"a.$idCol").as("batch_id"), col(s"b.$idCol").as("corpus_id"))
      .distinct()
      .localCheckpoint(eager = false)
    val bIds = cand.select(col("batch_id").as(idCol)).distinct()
    val cIds = cand.select(col("corpus_id").as(idCol)).distinct()
    val shingleSet =
      TextOps.distinctShingles(TextOps.tokens(col(textCol)), shingleN)
    val bSets = b1.join(bIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("batch_id"), shingleSet.as("sh_a"))
    val cSets = corpus.join(cIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("corpus_id"), shingleSet.as("sh_b"))
    val nearDropIds = cand
      .join(bSets, Seq("batch_id"))
      .join(cSets, Seq("corpus_id"))
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("c").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id").as(idCol)).distinct()
    b1.join(nearDropIds, Seq(idCol), "left_anti")
  }

  /** The persisted text-dedup index — the three write-once artifacts a
    * long-lived ingest deployment stores so the corpus side of
    * [[dedupAgainstCorpus]] is never re-derived per batch (the shape that
    * operator's doc assumes): the normalized-fingerprint keys (exact
    * phase), the banded MinHash table (candidate phase — `writeBucketed`
    * on (band_id, band_hash) in a real lake so the batch join is
    * shuffle-free on the corpus side), and the per-doc distinct shingle
    * sets (verify phase). All three are LINEAR in the corpus and
    * append-only under ingest: [[extendIndex]] is pure union — no
    * recompute, no read-modify-write of standing artifacts. The one
    * knob this index deliberately omits is the stop-shingle guard
    * (maxDf): the hot set is a corpus-document-frequency statistic, so
    * refreshing it is a compaction-time rebuild concern, not an
    * append-time one — per-batch df would make successive batches'
    * signatures incomparable (the dedupAgainstCorpus stop-shingle
    * discipline). */
  case class TextDedupIndex(fingerprints: DataFrame, bands: DataFrame,
                            sets: DataFrame)

  /** The three index artifacts of a document set, as lazy plans — the one
    * derivation [[corpusIndex]] (session-pinned) and [[writeIndex]]
    * (persisted) share, so the in-session and storage-backed forms can
    * never drift. */
  private def indexArtifacts(docs: DataFrame, idCol: String, textCol: String,
                             shingleN: Int): (DataFrame, DataFrame, DataFrame) = (
    docs.select(TextOps.fingerprint(col(textCol)).as("__fp")),
    minhashBandTable(docs, idCol, textCol, shingleN),
    docs.select(col(idCol),
      TextOps.distinctShingles(TextOps.tokens(col(textCol)), shingleN)
        .as("__sh")))

  /** Build the standing index from a corpus (one scan per artifact; the
    * tables are pinned because every subsequent batch reuses them — on a
    * cluster they are parquet, here a localCheckpoint).
    *
    * Round-12 note: deriving the band table from the pinned sets table
    * (the writeIndex one-tokenize shape) was tried here and measured
    * SLOWER (q515 3.7 → 4.6 s, reproduced): in-session the shingle
    * arrays round-trip the block store as serialized string arrays —
    * costlier than re-tokenizing — where writeIndex's parquet sets table
    * is dictionary-compressed and feeds a bucketed, exchange-free
    * re-read. The three independent one-pass artifacts stay. */
  def corpusIndex(corpus: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3): TextDedupIndex = {
    val (fp, bands, sets) = indexArtifacts(corpus, idCol, textCol, shingleN)
    TextDedupIndex(fp.localCheckpoint(eager = false),
      bands.localCheckpoint(eager = false),
      sets.localCheckpoint(eager = false))
  }

  /** PERSIST the standing index: the three write-once artifacts as
    * bucketed parquet tables, each bucketed (and sorted) on exactly the
    * key its per-batch probe joins on — fingerprints on __fp (the exact
    * anti-join), bands on (band_id, band_hash) (the candidate equi-join),
    * sets on the id (the verify-phase semi/equi joins). At 100 TB this is
    * the point of the index: the corpus-sized side of every probe join is
    * ALREADY hash-partitioned on the join key, so a batch dedup shuffles
    * only the batch (Round10OpsSpec asserts the index-side exchange is
    * absent from the plan). A `<prefix>_meta` row records the build size
    * for [[rebuildDue]]. */
  def writeIndex(corpus: DataFrame, idCol: String, textCol: String,
                 prefix: String, shingleN: Int = 3, buckets: Int = 32): Unit = {
    // Build shape optimized (round 12, guide §1.2 "the distributed
    // algorithm" + §2.6 "overlap independent jobs"): the former build ran
    // THREE sequential corpus passes, two of which (bands, sets) each
    // re-tokenized and re-shingled the full text — the dominant CPU of
    // the build. Now (a) the sets table (id → distinct-shingle array) is
    // written first, concurrently with the cheap fingerprint pass — the
    // ONE pass that pays tokenization — and (b) the band table derives
    // from the WRITTEN sets table: per-doc shingle arrays read back as
    // compact parquet columns (no re-tokenization), and because _sets is
    // bucketed on the id the signature aggregate after the explode
    // groups EXCHANGE-FREE (the explode preserves the scan's bucket
    // partitioning on the id). Artifacts are IDENTICAL to the
    // one-pass-per-artifact shape: explode(__sh) is exactly
    // docShingles(corpus, maxDf = 0) — same distinct shingle sets, same
    // rows into the same signature/band math (Round12OpsSpec pins build
    // equality table-by-table). At 100 TB this removes one full
    // tokenize+shingle corpus pass and overlaps the other two.
    val fp = corpus.select(TextOps.fingerprint(col(textCol)).as("__fp"))
    val sets = corpus.select(col(idCol),
      TextOps.distinctShingles(TextOps.tokens(col(textCol)), shingleN).as("__sh"))
    graft.Par.run(
      () => graft.sources.Sources.writeBucketed(
        sets, s"${prefix}_sets", buckets, Seq(idCol)),
      () => graft.sources.Sources.writeBucketed(
        fp, s"${prefix}_fp", buckets, Seq("__fp")))
    val spark = corpus.sparkSession
    // refresh defensively: an earlier build under the same prefix may have
    // left a cached relation for this name in the session catalog
    spark.catalog.refreshTable(s"${prefix}_sets")
    val bands = bandsFromSig(sigAggFromShingles(
      spark.table(s"${prefix}_sets")
        .select(col(idCol), explode(col("__sh")).as("shingle")), idCol), idCol)
    graft.Par.run(
      () => graft.sources.Sources.writeBucketed(
        bands, s"${prefix}_bands", buckets, Seq("band_id", "band_hash")),
      () => {
        graft.sources.Sources.dropTableAndLocation(spark, s"${prefix}_meta")
        spark.table(s"${prefix}_fp").groupBy().count()
          .select(col("count").as("build_rows"))
          .write.mode("overwrite").format("parquet").saveAsTable(s"${prefix}_meta")
      })
  }

  /** Reload a persisted index in any session sharing the catalog — the
    * session-boundary half of the q515 story: nothing of the index
    * survives in memory, every probe join reads the bucketed tables.
    * Each table is REFRESHED first: the session catalog caches a
    * table's resolved relation (file listing included), so without the
    * refresh a reload after [[appendIndex]] in the SAME session would
    * silently serve the pre-append file list — chunk B would dedup
    * against the un-extended index (caught by q521: 2 extra survivors). */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
                prefix: String): TextDedupIndex = {
    Seq("_fp", "_bands", "_sets").foreach(sfx =>
      spark.catalog.refreshTable(s"$prefix$sfx"))
    TextDedupIndex(
      spark.table(s"${prefix}_fp"),
      spark.table(s"${prefix}_bands"),
      spark.table(s"${prefix}_sets"))
  }

  /** O(batch) maintenance of the PERSISTED index: append the accepted
    * documents' three artifact tables — the corpus tables are never read,
    * never rewritten (each append lands as new files per bucket; Spark
    * keeps the bucket spec, so probe joins stay co-located). The
    * compaction counterpart is [[rebuildDue]]: appended files accumulate
    * and the stop-shingle statistics staleness grows with the appended
    * fraction, so a deployment rebuilds (writeIndex from the full corpus)
    * when the index has outgrown its build size. */
  def appendIndex(accepted: DataFrame, idCol: String, textCol: String,
                  prefix: String, shingleN: Int = 3, buckets: Int = 32): Unit = {
    val (fp, bands, sets) = indexArtifacts(accepted, idCol, textCol, shingleN)
    def app(df: DataFrame, table: String, keys: Seq[String]): Unit =
      // pre-partition to the bucket hash: one new file per non-empty
      // bucket per append, not (tasks × buckets) — see writeBucketed
      df.repartition(buckets, keys.map(df.col): _*)
        .write.mode("append").format("parquet")
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .saveAsTable(table)
    // three independent batch-sized appends to three different tables —
    // overlapped (guide §2.6) so the append's wall is the slowest write,
    // not the sum of three job tails
    graft.Par.run(
      () => app(fp, s"${prefix}_fp", Seq("__fp")),
      () => app(bands, s"${prefix}_bands", Seq("band_id", "band_hash")),
      () => app(sets, s"${prefix}_sets", Seq(idCol)))
  }

  /** Rebuild policy for the persisted index: true when the extended index
    * has outgrown its last full build by `factor` — the point where (a)
    * per-bucket file counts from appends start to dominate scan cost and
    * (b) the frozen stop-shingle/band statistics are a corpus ago stale
    * (the TextDedupIndex doc's compaction-time concern). One count
    * aggregate on the fingerprint table vs the recorded build size —
    * metadata-light, safe to evaluate per ingest cycle. */
  def rebuildDue(spark: org.apache.spark.sql.SparkSession, prefix: String,
                 factor: Double = 3.0): Boolean = {
    require(factor > 1.0, "factor must exceed 1 (a fresh index never rebuilds)")
    // refresh first: the catalog caches the file listing, and a same-
    // session count after appendIndex would otherwise see the pre-append
    // size and silently defer the rebuild (the readIndex lesson applied
    // to the policy check itself — advisor, round 10)
    spark.catalog.refreshTable(s"${prefix}_fp")
    val built = spark.table(s"${prefix}_meta").head().getLong(0)
    val now = spark.table(s"${prefix}_fp").count()
    now > built * factor
  }

  /** LAYOUT-ONLY compaction of the persisted index — the file half of
    * the rebuild policy without the O(corpus) recompute: every
    * [[appendIndex]] lands up to one new file per non-empty bucket per
    * table, and at append-heavy ingest rates the per-bucket file count
    * (not the data volume) comes to dominate probe-scan cost long before
    * the 3× [[rebuildDue]] statistical-staleness bar is reached. This
    * folds each bucketed table back to one file per bucket by reading it
    * and rewriting THROUGH THE SAME BUCKET SPEC (taken from the catalog,
    * so the probe joins stay exchange-free afterwards — asserted
    * structurally in Round11OpsSpec) into a staging table, then swapping
    * names. One read + one write per table, no shingle/band recompute —
    * O(index bytes) IO vs [[writeIndex]]'s O(corpus) CPU. Deliberately
    * does NOT touch `_meta`: compaction fixes files, not the frozen
    * stop-shingle/band statistics, so the rebuild clock keeps measuring
    * staleness against the original build.
    *
    * Parameterized over the table-suffix list (round-12 advisor fix): the
    * default is the text index's three tables; [[compactEmbIndex]] passes
    * the embedding index's two. Any graft bucketed-index family compacts
    * through the same fold — the bucket spec is read from the catalog, so
    * nothing here is suffix-specific. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   prefix: String,
                   suffixes: Seq[String] = Seq("_fp", "_bands", "_sets")): Unit =
    // one independent fold per table (distinct names end to end, catalog
    // ops synchronized by the catalog itself) — overlapped (guide §2.6)
    graft.Par.run(suffixes.map { sfx => () => {
      val table = s"$prefix$sfx"
      spark.catalog.refreshTable(table)
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      val spec = meta.bucketSpec.getOrElse(
        sys.error(s"$table is not bucketed — not a graft index table"))
      val keys = spec.bucketColumnNames
      val sorts = if (spec.sortColumnNames.nonEmpty) spec.sortColumnNames
                  else keys
      val tmp = s"${table}__compact"
      val old = s"${table}__old"
      graft.sources.Sources.dropTableAndLocation(spark, tmp)
      // a leftover __old from a crash after a prior swap's rename-in is
      // dead data — clear it so this swap's rename-aside has a free name
      graft.sources.Sources.dropTableAndLocation(spark, old)
      // read the FILES, not the catalog table: a repartition over the
      // bucketed-table scan gets planned against the scan's advertised
      // hash partitioning and ends up ignoring the requested partition
      // count (observed: 4 write tasks instead of numBuckets → several
      // buckets per task → one file per (task, bucket), the exact layout
      // compaction exists to remove); the raw parquet read has no
      // partitioning to satisfy, so the shuffle lands at numBuckets and
      // each write task holds exactly one bucket
      val df = spark.read.parquet(meta.location.toString)
      df.repartition(spec.numBuckets, keys.map(df.col): _*)
        .write.format("parquet")
        .bucketBy(spec.numBuckets, keys.head, keys.tail: _*)
        .sortBy(sorts.head, sorts.tail: _*)
        .saveAsTable(tmp)
      // Swap order narrows the unavailable window (round-12 advisor fix):
      // rename the live table ASIDE, rename staging IN, only then drop the
      // old copy. A crash between the renames leaves the full pre-compact
      // index intact under `__old` (recovery: ALTER TABLE RENAME it back);
      // a crash after the rename-in leaves a dead `__old` that the next
      // compaction clears. The previous drop-then-rename order had a
      // window where the live name pointed at nothing and the only copy
      // sat in staging.
      spark.sql(s"ALTER TABLE `$table` RENAME TO `$old`")
      spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
      graft.sources.Sources.dropTableAndLocation(spark, old)
      spark.catalog.refreshTable(table)
    }}: _*)

  /** [[compactIndex]] for the persisted EMBEDDING index's two bucketed
    * tables (`_bands` on (band_id, bucket), `_vecs` on the id) — the same
    * append-file accumulation has the same remedy (the doc on
    * [[appendEmbIndex]] promised this entry point; round-12 advisor fix). */
  def compactEmbIndex(spark: org.apache.spark.sql.SparkSession,
                      prefix: String): Unit =
    compactIndex(spark, prefix, Seq("_bands", "_vecs"))

  /** Append newly-accepted documents to the standing index: three unions,
    * nothing recomputed — the O(batch) maintenance that makes continuous
    * dedup-at-ingest viable at corpus sizes where rebuilding the index
    * (O(corpus)) per batch is not. */
  def extendIndex(idx: TextDedupIndex, accepted: DataFrame, idCol: String,
                  textCol: String, shingleN: Int = 3): TextDedupIndex =
    TextDedupIndex(
      idx.fingerprints.unionByName(
        accepted.select(TextOps.fingerprint(col(textCol)).as("__fp"))),
      idx.bands.unionByName(
        minhashBandTable(accepted, idCol, textCol, shingleN)),
      idx.sets.unionByName(
        accepted.select(col(idCol),
          TextOps.distinctShingles(TextOps.tokens(col(textCol)), shingleN)
            .as("__sh"))))

  /** [[dedupAgainstCorpus]] against a prebuilt [[TextDedupIndex]] — the
    * SAME three phases and the SAME math (fingerprint anti-join, band
    * equi-join, exact-Jaccard verify on full candidate shingle sets), but
    * every corpus-side artifact comes from the index, so the per-batch
    * cost is O(batch + collisions): the corpus is never rescanned.
    * Equality with the from-scratch operator is the index's correctness
    * contract (TextDedupSpec; the q515 oracle rebuilds both stages). */
  def dedupAgainstIndex(idx: TextDedupIndex, batch: DataFrame,
                        idCol: String, textCol: String,
                        shingleN: Int = 3,
                        threshold: Double = 0.5): DataFrame = {
    val exactSurvivors = batch
      .select(col(idCol), TextOps.fingerprint(col(textCol)).as("__fp"))
      .join(idx.fingerprints, Seq("__fp"), "left_anti")
      .select(idCol)
    val b1 = batch.join(exactSurvivors, Seq(idCol), "left_semi")
    val bBands = bandsFromSig(
      sigAggFromShingles(docShingles(b1, idCol, textCol, shingleN, 0), idCol),
      idCol).localCheckpoint(eager = false)
    val cand = bBands.as("a").join(idx.bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash"))
      .select(col(s"a.$idCol").as("batch_id"), col(s"b.$idCol").as("corpus_id"))
      .distinct()
      .localCheckpoint(eager = false)
    val bIds = cand.select(col("batch_id").as(idCol)).distinct()
    val cIds = cand.select(col("corpus_id").as(idCol)).distinct()
    val bSets = b1.join(bIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("batch_id"),
        TextOps.distinctShingles(TextOps.tokens(col(textCol)), shingleN).as("sh_a"))
    val cSets = idx.sets.join(cIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("corpus_id"), col("__sh").as("sh_b"))
    val nearDropIds = cand
      .join(bSets, Seq("batch_id"))
      .join(cSets, Seq("corpus_id"))
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("c").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id").as(idCol)).distinct()
    b1.join(nearDropIds, Seq(idCol), "left_anti")
  }

  /** The persisted standing index for EMBEDDING near-dup — the
    * q517/TextDedupIndex story applied to vectors, completing the arc
    * (text: session → persisted → streamed; embeddings previously
    * stopped at session scope). Two bucketed tables, each on exactly its
    * probe-join key: `<prefix>_bands` (id, band_id, packed bucket) on
    * (band_id, bucket) — the candidate equi-join — and `<prefix>_vecs`
    * (id, vector) on the id — the verify-phase key join. Same plan
    * property as the text index: the corpus side of every per-batch
    * probe join is pre-partitioned, no index-side exchange.
    *
    * Carries the BAND GEOMETRY the index was built with (round-12): the
    * batch side of every probe must band identically to the stored
    * corpus rows, so (nBands, rowsPerBand) is part of the index's
    * on-disk identity (`_meta`), not a per-call knob. This is what lets
    * a 100 TB deployment build with [[adaptiveBandShape]] — the 200 k-
    * vector decade probe measured the fixed 8×6 default flooding the
    * verify join with ~3 k candidates/vector (the quadratic trap the
    * adaptive shape exists for) — while every later probe, append, and
    * stream picks the geometry up from the index itself. */
  case class EmbDedupIndex(bands: DataFrame, vecs: DataFrame,
                           nBands: Int = 8, rowsPerBand: Int = 6)

  private def embBandRows(docs: DataFrame, idCol: String, vecCol: String,
                          dim: Int, nBands: Int, rowsPerBand: Int): DataFrame =
    docs.select(col(idCol),
        Similarity.bandBucketsPacked(
          Similarity.asDouble(col(vecCol)), dim, nBands, rowsPerBand)
          .as("__bkts"))
      .select(col(idCol), posexplode(col("__bkts")).as(Seq("band_id", "bucket")))

  /** Build the persisted embedding index. The band geometry is frozen
    * into `_meta` at build time (with the build row count — the rebuild
    * clock): at corpus scale pass the [[adaptiveBandShape]] output here
    * (bits per band must track log2(N) to hold vectors-per-bucket
    * constant — the 200 k decade probe measured the fixed default
    * flooding the verify join ~60× otherwise); every probe/append then
    * reads the geometry from the index, so callers cannot drift. */
  def writeEmbIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    dim: Int, prefix: String, nBands: Int = 8,
                    rowsPerBand: Int = 6, buckets: Int = 32): Unit = {
    // two independent corpus passes (the CPU-dense hyperplane projection
    // and the plain vector copy) — overlapped (guide §2.6): the copy's
    // IO-bound tasks back-fill slots the projection's tail leaves idle
    graft.Par.run(
      () => graft.sources.Sources.writeBucketed(
        embBandRows(corpus, idCol, vecCol, dim, nBands, rowsPerBand),
        s"${prefix}_bands", buckets, Seq("band_id", "bucket")),
      () => graft.sources.Sources.writeBucketed(
        corpus.select(col(idCol), Similarity.asDouble(col(vecCol)).as("__v")),
        s"${prefix}_vecs", buckets, Seq(idCol)))
    val spark = corpus.sparkSession
    graft.sources.Sources.dropTableAndLocation(spark, s"${prefix}_meta")
    spark.table(s"${prefix}_vecs").groupBy().count()
      .select(col("count").as("build_rows"), lit(nBands).as("n_bands"),
        lit(rowsPerBand).as("rows_per_band"), lit(dim).as("dim"))
      .write.mode("overwrite").format("parquet").saveAsTable(s"${prefix}_meta")
  }

  /** Reload in any session sharing the catalog; refreshed first (the
    * readIndex stale-listing lesson applies verbatim). The stored band
    * geometry rides along so probes band exactly as the build did. */
  def readEmbIndex(spark: org.apache.spark.sql.SparkSession,
                   prefix: String): EmbDedupIndex = {
    Seq("_bands", "_vecs", "_meta").foreach(sfx =>
      spark.catalog.refreshTable(s"$prefix$sfx"))
    val m = spark.table(s"${prefix}_meta")
      .select("n_bands", "rows_per_band").head()
    EmbDedupIndex(spark.table(s"${prefix}_bands"),
      spark.table(s"${prefix}_vecs"), m.getInt(0), m.getInt(1))
  }

  /** Rebuild policy for the embedding index — [[rebuildDue]] for
    * vectors, with the sharper geometry rationale: [[adaptiveBandShape]]
    * ties bits-per-band to log2(corpus), so an index grown `factor`×
    * past its build is not just file-fragmented, its FROZEN geometry now
    * buckets ~factor× too many vectors together and the candidate volume
    * per probe grows linearly with the excess. One footer-served count
    * vs the recorded build size, refresh-first (same-session appends
    * must be visible to the policy check). */
  def embRebuildDue(spark: org.apache.spark.sql.SparkSession, prefix: String,
                    factor: Double = 3.0): Boolean = {
    require(factor > 1.0, "factor must exceed 1 (a fresh index never rebuilds)")
    spark.catalog.refreshTable(s"${prefix}_vecs")
    val built = spark.table(s"${prefix}_meta").select("build_rows")
      .head().getLong(0)
    spark.table(s"${prefix}_vecs").count() > built * factor
  }

  /** O(batch) maintenance — appended rows land as new per-bucket files,
    * corpus partitions never rewritten; [[compactEmbIndex]] folds the
    * accumulated append files back to one per bucket. Geometry defaults
    * to the index's own `_meta` (-1 sentinels): appended band rows MUST
    * band exactly as the build did or probes silently lose them. */
  def appendEmbIndex(accepted: DataFrame, idCol: String, vecCol: String,
                     dim: Int, prefix: String, nBands: Int = -1,
                     rowsPerBand: Int = -1, buckets: Int = 32): Unit = {
    val (nb, rpb) =
      if (nBands > 0 && rowsPerBand > 0) (nBands, rowsPerBand)
      else {
        val spark = accepted.sparkSession
        spark.catalog.refreshTable(s"${prefix}_meta")
        val m = spark.table(s"${prefix}_meta")
          .select("n_bands", "rows_per_band").head()
        (m.getInt(0), m.getInt(1))
      }
    def app(df: DataFrame, table: String, keys: Seq[String]): Unit =
      df.repartition(buckets, keys.map(df.col): _*)
        .write.mode("append").format("parquet")
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .saveAsTable(table)
    // two independent batch-sized appends — overlapped (guide §2.6)
    graft.Par.run(
      () => app(embBandRows(accepted, idCol, vecCol, dim, nb, rpb),
        s"${prefix}_bands", Seq("band_id", "bucket")),
      () => app(accepted.select(col(idCol),
          Similarity.asDouble(col(vecCol)).as("__v")),
        s"${prefix}_vecs", Seq(idCol)))
  }

  /** Batch-vs-corpus embedding near-dup through the PERSISTED index: the
    * batch's band rows equi-join the index bands (candidates), the exact
    * cosine verify joins carry only candidate ids' vectors (batch side
    * from the batch, corpus side from the index's vecs table), and a
    * batch doc drops when any verified cosine ≥ threshold. The same
    * two-phase ids-only shape as [[embeddingNearDups]]/[[dedupAgainstIndex]];
    * cost per batch is O(batch + collisions), the corpus never rescanned. */
  def dedupEmbAgainstIndex(idx: EmbDedupIndex, batch: DataFrame,
                           idCol: String, vecCol: String, dim: Int,
                           threshold: Double, nBands: Int = -1,
                           rowsPerBand: Int = -1): DataFrame = {
    // geometry defaults to the index's own (-1 sentinels): the batch
    // side must band exactly as the stored corpus rows did
    val (nb, rpb) =
      if (nBands > 0 && rowsPerBand > 0) (nBands, rowsPerBand)
      else (idx.nBands, idx.rowsPerBand)
    val bBands = embBandRows(batch, idCol, vecCol, dim, nb, rpb)
      .localCheckpoint(eager = false)
    val cand = bBands.as("a").join(idx.bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.bucket") === col("b.bucket"))
      .select(col(s"a.$idCol").as("batch_id"), col(s"b.$idCol").as("corpus_id"))
      .distinct()
      .localCheckpoint(eager = false)
    val bVecs = batch
      .join(cand.select(col("batch_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol).as("batch_id"),
        Similarity.asDouble(col(vecCol)).as("va"))
    val cVecs = idx.vecs
      .join(cand.select(col("corpus_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol).as("corpus_id"), col("__v").as("vb"))
    val dropIds = cand
      .join(bVecs, Seq("batch_id"))
      .join(cVecs, Seq("corpus_id"))
      .filter(round(Similarity.cosineU(col("va"), col("vb"), dim), 6)
        >= threshold)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Corpus-size-adaptive band geometry for [[embeddingNearDups]].
    *
    * A FIXED band shape is the one quadratic trap in the banded-LSH
    * design: expected random band collisions are ~N²/2^rowsPerBand per
    * band, so a shape tuned at corpus size N₀ grows its candidate volume
    * 100× at 10·N₀ (measured on the q509 fixture at 150k docs: (48, 12)
    * → 143M candidate pairs, 216 s; (96, 16) → 23.5M, 79 s, recall still
    * exactly the planted pairs). The fix is textbook LSH: bits per band
    * must track log2(N) to hold docs-per-bucket constant, and the band
    * count follows from the within-cosine floor via OR-amplification,
    * nBands ≥ ln(1/missBound) / −ln(1 − p^rowsPerBand) with
    * p = 1 − acos(withinCos)/π the per-bit agreement probability.
    *
    * (minBands, minRows) is the probe-validated shape at the tuning
    * corpus size and acts as a FLOOR on both outputs, which makes the
    * adaptive shape monotone-safe: rowsPerBand never shrinks below the
    * probed value, and growing nBands only ever ADDS candidate pairs
    * (bands are OR'd), so recall at the tuned scale is a superset of the
    * probed recall while false positives still die in the exact-cosine
    * verify. Pure driver arithmetic — no data pass. */
  def adaptiveBandShape(n: Long, withinCos: Double,
                        minBands: Int, minRows: Int,
                        docsPerBucket: Double = 3.7,
                        missBound: Double = 2e-6): (Int, Int) = {
    require(n > 0, "corpus size must be positive")
    require(withinCos > 0 && withinCos <= 1, "withinCos must be in (0, 1]")
    require(docsPerBucket > 0 && missBound > 0 && missBound < 1)
    val rpb = math.max(minRows,
      math.ceil(math.log(n.toDouble / docsPerBucket) / math.log(2)).toInt)
    val p = 1.0 - math.acos(math.min(1.0, withinCos)) / math.Pi
    val bandMiss = 1.0 - math.pow(p, rpb)
    val nb =
      if (bandMiss <= 0) minBands // p = 1: every band agrees, floor rules
      else math.max(minBands,
        math.ceil(math.log(1.0 / missBound) / -math.log(bandMiss)).toInt)
    (nb, rpb)
  }

  /** Embedding-cosine near-dup pairs: banded multi-table hyperplane LSH
    * (candidate = all `rowsPerBand` sign bits of any of `nBands` tables
    * agree), then exact-cosine verification on candidates only — the
    * embedding-space analog of `minhashVerifiedPairs`.
    *
    * Scale design: a single 2^p bucket table has two failure modes at corpus
    * scale — fixed bucket count makes the within-bucket self-join O(N²/2^p),
    * and recall collapses because every near-dup straddling one hyperplane is
    * lost. Banding fixes both: collision probability per band is tunable via
    * `rowsPerBand` (more bits → smaller groups), and OR-amplification across
    * `nBands` restores recall (p_pair = 1-(1-p_bit^r)^B). The join shuffles
    * on (band_id, bucket); cosine is an unrolled codegen expression, rounded
    * to 6 dp so the verdict is engine-reproducible. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, threshold: Double,
                        nBands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val v = Similarity.asDouble(col(vecCol))
    // ids-only through the candidate self-join — carrying the vectors would
    // shuffle |candidates|×2×dim doubles; instead distinct (doc_a, doc_b)
    // pairs first, then two key-joins bring the vectors back for the exact
    // verify (same two-phase shape as minhashVerifiedPairs).
    val vecs = df.select(col(idCol), v.as("v"))
    // the same lineage-cut + verify-prefilter discipline as
    // minhashVerifiedPairs: pin the band table so the projection subtree
    // runs once per action (not once per self-join side), pin the tiny
    // candidate-pair set, and semi-join the vectors down to candidate ids
    // so the two verify joins carry |candidate docs| vectors, not the
    // whole corpus.
    //
    // The pin holds the COMPACT per-doc form (one row per doc with the
    // bucket array) and each self-join side re-explodes it: pinning the
    // exploded table stores N·nBands object rows, and at the decade scale
    // point (495k docs × 105 bands = 52M cached rows) the pin-write cost
    // measured 2830 CPU-s with per-row cost itself inflating ~5× under
    // GC pressure — vs ~100 CPU-s for the N-row compact pin + a re-run
    // posexplode per side (flop-free; the expensive hyperplane projection
    // stays behind the pin either way). Round-10 decade-curve finding.
    // packed LONG buckets (bijective to the string form — same candidate
    // partition, 8-byte join keys instead of rowsPerBand-char strings on
    // the N·nBands-row self-join, the operator's dominant shuffle)
    val bandTable = df.select(col(idCol),
        Similarity.bandBucketsPacked(v, dim, nBands, rowsPerBand).as("__bkts"))
      .localCheckpoint(eager = false)
    val banded = bandTable.select(col(idCol),
      posexplode(col("__bkts")).as(Seq("band_id", "bucket")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.bucket") === col("b.bucket") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
      .localCheckpoint(eager = false)
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as(idCol)).distinct()
    val candVecs = vecs.join(candIds, Seq(idCol), "left_semi")
    cand.join(candVecs.select(col(idCol).as("doc_a"), col("v").as("va")), Seq("doc_a"))
      .join(candVecs.select(col(idCol).as("doc_b"), col("v").as("vb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(Similarity.cosineU(col("va"), col("vb"), dim), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** EXACT set-similarity join — all entity pairs whose token SETS have
    * Jaccard ≥ tNum/tDen, the ppjoin-family shape that complements the
    * approximate MinHash/SimHash family: candidate generation by PREFIX
    * FILTERING (any qualifying pair must share a token among each side's
    * |S| − ⌈t·|S|⌉ + 1 RAREST tokens in one global rarity order), then
    * exact intersection-count verification. The threshold is an integer
    * RATIONAL, so both the prefix length ⌈t·n⌉ = (tNum·n + tDen − 1) div
    * tDen and the final compare |∩|·tDen ≥ tNum·|∪| are exact integer
    * arithmetic — no float thresholds anywhere.
    *
    * Scale shape: the prefix join's per-token groups are the SMALLEST
    * posting lists by construction (rarity order shrinks exactly the hot
    * lists that blow up a naive token join); verification joins carry ids
    * only; nothing is broadcast except by AQE's own choice. */
  def setSimilarityJoin(df: DataFrame, entityCol: String, tokenCol: String,
                        tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "need 0 < tNum/tDen <= 1")
    val W = org.apache.spark.sql.expressions.Window
    val et = df.select(col(entityCol).as("__e"), col(tokenCol).as("__t"))
      .distinct()
    val rarity = et.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    val sizes = et.groupBy(col("__e")).agg(count(lit(1)).as("__sz"))
    val pref = et.join(rarity, Seq("__t"))
      .withColumn("__rnk", row_number().over(
        W.partitionBy(col("__e")).orderBy(col("__df").asc, col("__t").asc)))
      .join(sizes, Seq("__e"))
      .filter(col("__rnk") <=
        col("__sz") - expr(s"(__sz * $tNum + $tDen - 1) div $tDen") + 1)
      .select(col("__e"), col("__t"))
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.__t") === col("b.__t") && col("a.__e") < col("b.__e"))
      .select(col("a.__e").as("e1"), col("b.__e").as("e2")).distinct()
    val inter = cand
      .join(et.select(col("__e").as("e1"), col("__t")), Seq("e1"))
      .join(et.select(col("__e").as("e2"), col("__t")), Seq("e2", "__t"))
      .groupBy(col("e1"), col("e2")).agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("__e").as("e1"), col("__sz").as("__s1")), Seq("e1"))
      .join(sizes.select(col("__e").as("e2"), col("__sz").as("__s2")), Seq("e2"))
      .filter(col("n_common") * tDen >=
        (col("__s1") + col("__s2") - col("n_common")) * tNum)
      .select(col("e1"), col("e2"), col("n_common"),
        (col("n_common").cast("double") /
          (col("__s1") + col("__s2") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** Jaro–Winkler similarity column (native codegen
    * [[graft.functions.JaroWinkler]] expression; also registered in SQL as
    * `jaro_winkler(a, b)`). */
  def jaroWinkler(a: Column, b: Column): Column =
    exprColumn(graft.functions.JaroWinkler(asExpr(a), asExpr(b)))

  /** TRUE Damerau–Levenshtein distance column (native codegen
    * [[graft.functions.DamerauLevenshtein]]; SQL: `damerau_levenshtein`). */
  def damerauLevenshtein(a: Column, b: Column): Column =
    exprColumn(graft.functions.DamerauLevenshtein(asExpr(a), asExpr(b)))

  /** Fuzzy name resolution — match every dirty name to its best clean
    * catalog entry by Jaro–Winkler within a blocking key: the scoring half
    * of record linkage when keys are free text rather than structured
    * (q251's sibling). Blocking on the FIRST CHARACTER is the JW-natural
    * choice: the Winkler boost weights shared prefixes, so a candidate
    * disagreeing on char 1 rarely wins — and the block bounds the candidate
    * join to |catalog|/σ per probe instead of |catalog|.
    *
    * Determinism: candidates rank by (rounded jw desc, clean name asc) — a
    * total order on the ROUNDED score, the cross-engine contract (two
    * engines' raw doubles can differ by 1 ulp; ranking on raw would flip
    * ties). Scale shape: the clean catalog is dimension-sized and
    * broadcast; per dirty row the JW kernel runs |block| times inside
    * whole-stage codegen; the best-match window is keyed per dirty id
    * (WindowGroupLimit, never global). */
  def fuzzyBlockMatch(dirty: DataFrame, idCol: String, nameCol: String,
                      clean: DataFrame, cleanNameCol: String,
                      minSim: Double): DataFrame = {
    require(minSim > 0 && minSim < 1, "minSim must be in (0,1)")
    val cat = clean.select(col(cleanNameCol).as("__clean")).distinct()
    val scored = dirty
      .join(broadcast(cat),
        substring(col(nameCol), 1, 1) === substring(col("__clean"), 1, 1))
      .withColumn("__jw", round(jaroWinkler(col(nameCol), col("__clean")), 6))
      .filter(col("__jw") >= minSim)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__jw").desc, col("__clean").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col(nameCol), col("__clean").as("matched_name"),
        col("__jw").as("jw"))
  }
}
