package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import graft.operators.Dedup
import graft.functions.Scalars
import Gate.{D, cachedFixture}

/** Sources, sinks and connectors (binary objects, JSON logs, the
  * GeoJSONL DataSource V2 lake) and multimodal media ingest. */
object IngestGates {
  /** The q502/q510 mixed-modality binary lake — five REAL formats (BMP,
    * PCM WAV, MP4, LAS, GeoTIFF by custkey%16 slot) plus planted junk,
    * built ONCE per (sf, JVM) and shared by the batch flagship (q502) and
    * its streaming replay (q510), so both gates ingest the same bytes. */
  private def mixedLake(s: SparkSession, dir: String): String = {
    val bridge = org.apache.spark.sql.GraftColumnBridge
    def bx(c: org.apache.spark.sql.Column) = bridge.expression(c)
    cachedFixture(s"q502:$dir") { r =>
      val slot = col("c_custkey") % 16
      val blk = expr("c_custkey div 16")
      val content =
        when(slot <= 3, bridge.column(graft.functions.FeatureBmpFixture(
          bx(blk), bx(slot))))
        .when(slot <= 7, bridge.column(graft.functions.WavGroupFixture(
          bx(blk), bx(slot - 4))))
        .when(slot <= 9, bridge.column(graft.functions.Mp4Fixture(
          bx(col("c_custkey")))))
        .when(slot <= 11, bridge.column(graft.functions.LasFixture(
          bx(col("c_custkey")))))
        .when(slot <= 13, bridge.column(graft.functions.GeoTiffFixture(
          bx(col("c_custkey")))))
        .otherwise(concat(lit("not a media file #"),
          col("c_custkey").cast("string")).cast("binary"))
      graft.operators.Ingest.writeBinaryObjects(
        Tables.customer(s, dir).select(col("c_custkey").as("id"),
          content.as("content"))
          .repartition(32), // one-time build: spread the object PUTs
        "id", "content", r)
    }
  }

  /** The ONE flattened files table both multimodal flagship gates emit:
    * per-type metadata extracted from the VALID side of Ingest.pipeline
    * while the bytes are in hand (all stateless expressions, so the same
    * projection serves the batch plan and the streaming micro-batches),
    * plus the unified embedding column (centered pixel means for images,
    * centered PCM block energies for audio; null for the others). */
  private def multimodalFlat(valid: DataFrame): DataFrame = {
    val bridge = org.apache.spark.sql.GraftColumnBridge
    def bx(c: org.apache.spark.sql.Column) = bridge.expression(c)
    val wavM = graft.operators.Multimodal.wavMeta(col("content"))
    val mp4M = graft.operators.Multimodal.mp4Meta(col("content"))
    val lasM = bridge.column(graft.functions.LasMeta(bx(col("content"))))
    val tifM = bridge.column(graft.functions.GeoTiffCrs(bx(col("content"))))
    val audE = bridge.column(graft.functions.WavBlockEnergy(
      bx(col("content")), 64))
    val imgVec = graft.operators.Multimodal.imageBlockMeans(col("content"))
    valid.select(
      expr("cast(regexp_extract(original_filename, '^([0-9]+)', 1) AS bigint)")
        .as("file_id"),
      col("mime_type"), col("size").cast("long").as("size"),
      when(col("mime_type").isin("image/bmp", "image/tiff"),
        col("metadata.width")).as("width"),
      when(col("mime_type").isin("image/bmp", "image/tiff"),
        col("metadata.height")).as("height"),
      when(col("mime_type") === "audio/wav", wavM.getField("n_frames"))
        .as("n_frames"),
      when(col("mime_type") === "audio/wav", wavM.getField("sample_rate"))
        .as("sample_rate"),
      when(col("mime_type") === "video/mp4", mp4M.getField("timescale"))
        .as("timescale"),
      when(col("mime_type") === "video/mp4", mp4M.getField("duration_ms"))
        .as("duration_ms"),
      when(col("mime_type") === "application/vnd.las",
        lasM.getField("n_points")).as("n_points"),
      when(col("mime_type") === "image/tiff", tifM.getField("epsg"))
        .as("epsg"),
      when(col("mime_type") === "image/bmp",
        transform(imgVec, v => v - lit(128.0d)))
      .when(col("mime_type") === "audio/wav",
        bridge.column(graft.functions.CenterVector(
          bridge.expression(audE)))).as("vec"))
  }

  /** The flagships' dedup tail: near-dup partner count per file over the
    * unified embedding space (banded LSH + exact verify), 0 for rows whose
    * modality has no feature path. */
  private def withPartners(flat: DataFrame): DataFrame = {
    val pairs = Dedup.embeddingNearDups(
      flat.filter(col("vec").isNotNull).select(col("file_id"), col("vec")),
      "file_id", "vec", dim = 64, threshold = 0.9,
      nBands = 16, rowsPerBand = 16)
    val partners = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("file_id"))
      .groupBy("file_id").agg(count(lit(1)).as("__p"))
    flat.drop("vec").join(partners, Seq("file_id"), "left")
      .withColumn("partners", coalesce(col("__p"), lit(0L)))
      .drop("__p")
  }

  /** One oracle shared verbatim by the BATCH multimodal flagship (q502)
    * and its STREAMED replay (q510): every valid file's mime/size/per-type
    * metadata is slot+custkey integer algebra (the q488/q489/q493/q495
    * formulas); partners = within-16-block same-modality near-dup count,
    * 0 for the modalities with no feature path; slots 14-15 are
    * quarantined junk. Sharing the text IS the stream/batch equivalence
    * claim — both pipelines must land on the same table. */
  private val MultimodalIngestSql: String =
    """WITH f AS (
         SELECT c_custkey AS file_id, c_custkey % 16 AS slot,
           c_custkey // 16 AS blk
         FROM customer WHERE c_custkey % 16 <= 13),
       grp AS (
         SELECT c_custkey // 16 AS blk, (c_custkey % 16) // 4 AS sub,
           count(*) AS n
         FROM customer WHERE c_custkey % 16 <= 7 GROUP BY 1, 2)
       SELECT f.file_id,
         CASE WHEN slot <= 3 THEN 'image/bmp'
              WHEN slot <= 7 THEN 'audio/wav'
              WHEN slot <= 9 THEN 'video/mp4'
              WHEN slot <= 11 THEN 'application/vnd.las'
              ELSE 'image/tiff' END AS mime_type,
         cast(CASE WHEN slot <= 3 THEN 822
              WHEN slot <= 7 THEN 1068
              WHEN slot <= 9 THEN
                CASE WHEN file_id % 2 = 0 THEN 132 ELSE 144 END
              WHEN slot <= 11 THEN 375 ELSE 170 END AS bigint) AS size,
         cast(CASE WHEN slot <= 3 THEN 16
              WHEN slot >= 12 THEN 1 END AS int) AS width,
         cast(CASE WHEN slot <= 3 THEN 16
              WHEN slot >= 12 THEN 1 END AS int) AS height,
         cast(CASE WHEN slot BETWEEN 4 AND 7 THEN 512 END AS bigint)
           AS n_frames,
         cast(CASE WHEN slot BETWEEN 4 AND 7 THEN 16000 END AS int)
           AS sample_rate,
         cast(CASE WHEN slot IN (8, 9)
           THEN 600 + file_id * 11 % 90000 END AS int) AS timescale,
         cast(CASE WHEN slot IN (8, 9)
           THEN (file_id * 31 % 100000000) * 1000
             // (600 + file_id * 11 % 90000) END AS bigint) AS duration_ms,
         cast(CASE WHEN slot IN (10, 11)
           THEN file_id * 7 + 1 END AS bigint) AS n_points,
         cast(CASE WHEN slot IN (12, 13) THEN
           CASE WHEN file_id % 2 = 0 THEN 32601 + file_id // 2 % 60
                ELSE 4001 + file_id // 2 % 900 END END AS int) AS epsg,
         cast(CASE WHEN slot <= 7 THEN g.n - 1 ELSE 0 END AS bigint)
           AS partners
       FROM f LEFT JOIN grp g ON g.blk = f.blk AND g.sub = slot // 4"""

  val gates: Seq[Gate] = Seq(
    // ---- F4: MIME sniff over synthesized magic bytes ----
    Gate("q64_mime_sniff", (s, dir) => {
      // the oracle derives the expected MIME from doc_id directly, so the
      // sniff's magic-prefix decisions are what the hash gate verifies
      val magic = when(col("doc_id") % 5 === 0, "FFD8FFE000104A46")
        .when(col("doc_id") % 5 === 1, "89504E470D0A1A0A")
        .when(col("doc_id") % 5 === 2, "49492A0000000000")
        .when(col("doc_id") % 5 === 3, "504B030414000000")
        .otherwise("0011223344556677")
      Tables.documents(s, dir)
        .select(Scalars.sniffMime(unhex(magic)).as("mime"))
        .groupBy("mime").agg(count(lit(1)).as("n"))
    },
      oracle = """SELECT CASE doc_id % 5 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
           WHEN 2 THEN 'image/tiff' WHEN 3 THEN 'application/zip'
           ELSE 'application/octet-stream' END AS mime, count(*) AS n
         FROM documents GROUP BY 1"""),

    // ---- M: ViT-style tile/patch grid plan (metadata explode) ----
    Gate("q196_tile_grid", (s, dir) => {
      // integer-derived image dims (the q42 fixture pattern); every 17th
      // part stands in for an image row
      val imgs = Tables.part(s, dir)
        .filter(col("p_partkey") % 17 === 0)
        .select(col("p_partkey").as("img_id"),
          (lit(64L) + (col("p_partkey") * 13) % 1980).as("w"),
          (lit(64L) + (col("p_partkey") * 29) % 1080).as("h"))
      graft.operators.Multimodal.tileGrid(imgs, "w", "h",
        tile = 224, stride = 200)
    },
      // tile grid: pure integer tiling rule, last tile clamps to the edge
      oracle = """WITH imgs AS (SELECT p_partkey AS img_id,
             64 + (p_partkey * 13) % 1980 AS w,
             64 + (p_partkey * 29) % 1080 AS h
           FROM part WHERE p_partkey % 17 = 0),
         n AS (SELECT img_id, w, h,
             CASE WHEN w <= 224 THEN 1 ELSE (w - 224 + 199) // 200 + 1 END AS nx,
             CASE WHEN h <= 224 THEN 1 ELSE (h - 224 + 199) // 200 + 1 END AS ny
           FROM imgs)
         SELECT img_id, w, h,
           least(i * 200, greatest(w - 224, 0)) AS tile_x,
           least(j * 200, greatest(h - 224, 0)) AS tile_y
         FROM n, generate_series(0, 15) gi(i), generate_series(0, 15) gj(j)
         WHERE i < nx AND j < ny"""),

    // ---- M: video frame-sampling plan (duration metadata explode) ----
    Gate("q197_frame_sample", (s, dir) => {
      val media = Tables.events(s, dir)
        .filter(col("event_id") % 101 === 0)
        .select(col("event_id"),
          struct((lit(1000L) + (col("event_id") * 37) % 60000)
            .as("duration_ms")).as("media_meta"))
      graft.operators.Multimodal.sampleFrames(media, stepMs = 2000L)
        .select(col("event_id"),
          col("media_meta.duration_ms").as("duration_ms"), col("frame_ms"))
    },
      // frame sampling: stepped generate_series over the duration
      oracle = """SELECT event_id, 1000 + (event_id * 37) % 60000 AS duration_ms,
           k * 2000 AS frame_ms
         FROM events, generate_series(0, 30) g(k)
         WHERE event_id % 101 = 0
           AND k * 2000 <= 1000 + (event_id * 37) % 60000 - 1"""),

    // ---- EXT: aspect-ratio bucketing (image-batch shape planning) ----
    Gate("q256_aspect_buckets", (s, dir) => {
      // multimodal training batches need uniform shapes: each image maps to
      // the aspect bucket minimizing |ln(ratio) − ln(bucket_ratio)| (the
      // SDXL-style bucket table — a broadcast design-time dimension). Dims
      // here derive deterministically from doc_id (no image decoder here);
      // the OPERATOR — log-ratio argmin over a broadcast bucket table with
      // a rounded, tie-broken boundary — is the real pipeline step. The
      // argmin window is per-image over exactly |buckets| rows.
      import org.apache.spark.sql.expressions.Window
      val buckets = s.createDataFrame(Seq(
        (1, 1024, 1024), (2, 1152, 896), (3, 896, 1152),
        (4, 1216, 832), (5, 832, 1216), (6, 1344, 768), (7, 768, 1344)
      )).toDF("bidx", "bw", "bh")
      val imgs = Tables.documents(s, dir).select(col("doc_id"),
        (lit(256) + col("doc_id") % 1024).cast("double").as("w"),
        (lit(256) + (col("doc_id") * 7) % 1024).cast("double").as("h"))
      val scored = imgs.crossJoin(broadcast(buckets))
        .withColumn("diff", round(abs(
          log(col("w") / col("h")) -
            log(col("bw").cast("double") / col("bh").cast("double"))), 9))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("diff"), col("bidx"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("bw"), col("bh"))
        .agg(count(lit(1)).as("n_docs"))
    },
      // aspect buckets: same log-ratio argmin, 9dp-rounded diff, bidx
      // tie-break — boundary-deterministic
      oracle = """WITH buckets AS (SELECT * FROM (VALUES
           (1, 1024, 1024), (2, 1152, 896), (3, 896, 1152),
           (4, 1216, 832), (5, 832, 1216), (6, 1344, 768), (7, 768, 1344))
           AS b(bidx, bw, bh)),
         imgs AS (SELECT doc_id,
             cast(256 + doc_id % 1024 AS double) AS w,
             cast(256 + (doc_id * 7) % 1024 AS double) AS h
           FROM documents),
         scored AS (SELECT doc_id, bidx, bw, bh,
             round(abs(ln(w / h) -
               ln(cast(bw AS double) / cast(bh AS double))), 9) AS diff
           FROM imgs, buckets),
         best AS (SELECT bw, bh, row_number() OVER (
             PARTITION BY doc_id ORDER BY diff, bidx) AS rn
           FROM scored)
         SELECT cast(bw AS int) AS bw, cast(bh AS int) AS bh,
           cast(count(*) AS bigint) AS n_docs
         FROM best WHERE rn = 1 GROUP BY 1, 2"""),

    // ---- P11 + P13 + F4: upload validation (size cap, MIME allowlist) ----
    Gate("q117_upload_validation", (s, dir) => {
      // real binary content (q64's magic prefixes + the document bytes); a
      // 300-byte cap splits the corpus so BOTH verdict branches carry rows.
      // checksum is engine-computed but not output: DuckDB's sha256 takes
      // VARCHAR only, and the F1 hash is already gated by q26/q75.
      val magic = when(col("doc_id") % 5 === 0, "FFD8FFE000104A46")
        .when(col("doc_id") % 5 === 1, "89504E470D0A1A0A")
        .when(col("doc_id") % 5 === 2, "49492A0000000000")
        .when(col("doc_id") % 5 === 3, "504B030414000000")
        .otherwise("0011223344556677")
      val files = Tables.documents(s, dir).select(col("doc_id"),
        concat(unhex(magic), col("text").cast("binary")).as("content"))
      graft.operators.Ingest.validateUploads(files, "doc_id", maxSize = 300L)
        .select("doc_id", "size", "mime_type", "size_ok", "mime_ok", "valid")
    },
      // upload validation: same byte construction (magic prefix || utf-8
      // text), size/allowlist verdicts recomputed from first principles
      oracle = """WITH f AS (SELECT doc_id,
             from_hex(CASE doc_id % 5
               WHEN 0 THEN 'FFD8FFE000104A46' WHEN 1 THEN '89504E470D0A1A0A'
               WHEN 2 THEN '49492A0000000000' WHEN 3 THEN '504B030414000000'
               ELSE '0011223344556677' END) || encode(text) AS content
           FROM documents)
         SELECT doc_id,
           octet_length(content) AS size,
           CASE doc_id % 5 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
             WHEN 2 THEN 'image/tiff' WHEN 3 THEN 'application/zip'
             ELSE 'application/octet-stream' END AS mime_type,
           octet_length(content) <= 300 AND octet_length(content) > 0 AS size_ok,
           doc_id % 5 IN (0, 1, 2, 3) AS mime_ok,
           (octet_length(content) <= 300 AND octet_length(content) > 0
             AND doc_id % 5 IN (0, 1, 2, 3)) AS valid
         FROM f"""),

    // ---- S13 + F9: JSON-lines log sink round-trip ----
    Gate("q74_json_log_roundtrip", (s, dir) => {
      // structured-log shape (shared/utils/__init__.py:95-140): serialize a
      // deterministic event subset to JSON-lines text files, read them back
      // through the schema'd source; the round-trip must reproduce the rows
      // bit-for-bit (Jackson round-trips doubles exactly).
      val sel = Tables.events(s, dir).filter(col("event_id") % 100 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val out = java.nio.file.Files.createTempDirectory("graft_jsonlog").toString
      graft.sources.Sources.writeJsonLog(sel, out)
      graft.sources.Sources.readJsonLines(s, out, StructType(Seq(
          StructField("event_id", LongType), StructField("user_id", LongType),
          StructField("event_type", StringType), StructField("value", DoubleType))))
        .select("event_id", "user_id", "event_type", "value")
    },
      // sink round-trips must reproduce the source rows exactly
      oracle = "SELECT event_id, user_id, event_type, value FROM events WHERE event_id % 100 = 0"),

    // ---- S3/S4: binary object sink + source round-trip ----
    Gate("q75_binary_roundtrip", (s, dir) => {
      // upload-pipeline storage path, end to end: PUT each selected
      // document's bytes as an object (executor-side Hadoop FS writes), scan
      // the directory back with the binaryFile source, recompute identity
      // (F1 checksum + byte size) — matching the oracle's sha256/length over
      // the source table proves the sink wrote and the source read the
      // exact bytes.
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), col("text").cast("binary").as("content"))
      val out = java.nio.file.Files.createTempDirectory("graft_bin_rt").toString
      graft.operators.Ingest.writeBinaryObjects(docs, "doc_id", "content", out)
      graft.operators.Ingest.readBinaryDir(s, out)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long").as("doc_id"),
          sha2(col("content"), 256).as("sha"),
          length(col("content")).cast("long").as("nbytes"))
    },
      oracle = """SELECT doc_id, sha256(text) AS sha, octet_length(encode(text)) AS nbytes
         FROM documents WHERE doc_id % 50 = 0"""),

    // ---- S12: WebODM external-job combined view ----
    Gate("q78_webodm_job_view", (s, dir) => {
      // processing_tasks ⋈ webodm_tasks (J8 nullable-FK left join) over
      // deterministically derived job tables — every 3rd task has been
      // submitted to WebODM, the rest surface with null webodm columns.
      val pt = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"),
        when(col("o_orderkey") % 2 === 0, "orthophoto").otherwise("dsm").as("task_type"),
        col("o_orderstatus").as("status"),
        ((col("o_orderkey") % 100).cast("double") / 100).as("progress"))
      val wt = Tables.orders(s, dir).filter(col("o_orderkey") % 3 === 0).select(
        col("o_orderkey").as("processing_task_id"),
        concat(lit("wo-"), col("o_orderkey")).as("webodm_task_id"),
        (col("o_custkey") % 50).as("webodm_project_id"),
        when(col("o_orderkey") % 6 === 0, "RUNNING").otherwise("QUEUED").as("status"),
        ((col("o_orderkey") % 10).cast("double") / 10).as("progress"))
      graft.sources.Sources.webodmJobView(pt, wt)
    },
      oracle = """WITH pt AS (SELECT o_orderkey AS id,
             CASE WHEN o_orderkey % 2 = 0 THEN 'orthophoto' ELSE 'dsm' END AS task_type,
             o_orderstatus AS status,
             cast(o_orderkey % 100 AS double) / 100 AS progress
           FROM orders),
         wt AS (SELECT o_orderkey AS processing_task_id,
             'wo-' || o_orderkey AS webodm_task_id,
             o_custkey % 50 AS webodm_project_id,
             CASE WHEN o_orderkey % 6 = 0 THEN 'RUNNING' ELSE 'QUEUED' END AS status,
             cast(o_orderkey % 10 AS double) / 10 AS progress
           FROM orders WHERE o_orderkey % 3 = 0)
         SELECT pt.id AS task_id, pt.task_type, pt.status AS status,
           pt.progress AS progress, wt.webodm_task_id, wt.webodm_project_id,
           wt.status AS webodm_status, wt.progress AS webodm_progress
         FROM pt LEFT JOIN wt ON wt.processing_task_id = pt.id"""),

    // ---- F13 tail: EXIF GPS decimal degrees via the IFD byte-walk ----
    Gate("q112_exif_gps", (s, dir) => {
      // per-row TIFF fixture with a GPS IFD planted from custkey-derived
      // micro-degrees; the oracle recomputes lat/lon from the same integers,
      // so the byte-walk's ref/rational decoding is what the hash verifies
      val bridge = org.apache.spark.sql.GraftColumnBridge
      val c = Tables.customer(s, dir).select(col("c_custkey"),
        (col("c_custkey") * 1234567L % 180000000L - 90000000L).as("lat_micro"),
        (col("c_custkey") * 7654321L % 360000000L - 180000000L).as("lon_micro"))
      val g = bridge.column(graft.functions.ExifGps(graft.functions.TiffGpsFixture(
        bridge.expression(col("lat_micro")), bridge.expression(col("lon_micro")))))
      c.select(col("c_custkey"),
        round(g.getField("lat"), 6).as("lat"),
        round(g.getField("lon"), 6).as("lon"))
    },
      // EXIF GPS: the fixture plants micro-degree rationals, so expected
      // lat/lon derive from the same integers; |x|/1e6 with an N/S|E/W sign
      // equals x/1e6 exactly in IEEE, and round-to-6dp cannot tie (the true
      // value has exactly 6 decimals)
      oracle = """SELECT c_custkey,
         round(cast(c_custkey * 1234567 % 180000000 - 90000000 AS double) / 1000000, 6) AS lat,
         round(cast(c_custkey * 7654321 % 360000000 - 180000000 AS double) / 1000000, 6) AS lon
         FROM customer"""),

    // ---- S11 scene-export query (SURVEY §2.1) ----
    Gate("q44_scene_export", (s, dir) => {
      // GEE-style collection export: date range + bbox-intersects + cloud cap
      // over a deterministic derived scenes catalog.
      val scenes = Tables.part(s, dir).select(
        col("p_partkey").as("scene_id"),
        concat(lit("c"), (col("p_partkey") % 3).cast("string")).as("collection_id"),
        date_add(lit("1995-01-01").cast("date"), (col("p_partkey") % 1000).cast("int")).as("date"),
        (col("p_partkey") * 11 % 340 - 175).cast("double").as("min_lon"),
        (col("p_partkey") * 23 % 160 - 85).cast("double").as("min_lat"),
        (col("p_partkey") * 11 % 340 - 175 + 20).cast("double").as("max_lon"),
        (col("p_partkey") * 23 % 160 - 85 + 10).cast("double").as("max_lat"),
        (col("p_partkey") % 100).cast("double").as("cloud_pct"))
      val aoi = struct(lit(-120.0).as("min_lon"), lit(-60.0).as("min_lat"),
        lit(120.0).as("max_lon"), lit(60.0).as("max_lat"))
      graft.sources.Sources.exportQuery(scenes, "c1", "1995-01-01", "1997-12-31", aoi, 60.0)
        .select("scene_id", "date", "cloud_pct")
    },
      oracle = """WITH scenes AS (SELECT p_partkey AS scene_id,
             'c' || cast(p_partkey % 3 as varchar) AS collection_id,
             DATE '1995-01-01' + cast(p_partkey % 1000 as int) AS date,
             cast(p_partkey * 11 % 340 - 175 as double) AS min_lon,
             cast(p_partkey * 23 % 160 - 85 as double) AS min_lat,
             cast(p_partkey * 11 % 340 - 175 + 20 as double) AS max_lon,
             cast(p_partkey * 23 % 160 - 85 + 10 as double) AS max_lat,
             cast(p_partkey % 100 as double) AS cloud_pct
           FROM part)
         SELECT scene_id, date, cloud_pct FROM scenes
         WHERE collection_id = 'c1'
           AND date BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'
           AND cloud_pct <= 60.0
           AND NOT (max_lon < -120.0 OR 120.0 < min_lon
                 OR max_lat < -60.0 OR 60.0 < min_lat)"""),

    // ---- EXT: perceptual dHash over real image bytes + dup groups ----
    Gate("q308_dhash", (s, dir) => {
      // per-row 9×8 gray BMP built from the key (genuine bytes: header,
      // bottom-up padded rows), decoded by the native dHash byte-walk; the
      // oracle recomputes the hash from the pixel FORMULA in integer SQL,
      // so the decode path is exactly what the gate verifies (the q112
      // EXIF discipline applied to the multimodal dedup fingerprint)
      val bridge = org.apache.spark.sql.GraftColumnBridge
      val h = bridge.column(graft.functions.DHash64(graft.functions.GrayBmpFixture(
        bridge.expression(col("c_custkey")))))
      val hashed = Tables.customer(s, dir)
        .select(col("c_custkey"), h.as("dhash"))
      val groups = hashed.groupBy(col("dhash"))
        .agg(count(lit(1)).as("n_same_hash"))
      hashed.join(groups, Seq("dhash"))
        .select(col("c_custkey"), col("dhash"), col("n_same_hash"))
    },
      // dHash: the oracle derives the 64 gradient bits straight from the
      // fixture's pixel formula — equal output proves the BMP byte-walk
      oracle = """WITH grid AS (SELECT r.range AS r, c.range AS c
           FROM range(0, 8) r, range(0, 8) c),
         h AS (SELECT c_custkey,
             bit_or(CASE WHEN (c_custkey * 31 + r * 17 + c * 13) % 256
                 > (c_custkey * 31 + r * 17 + (c + 1) * 13) % 256
               THEN CASE WHEN r * 8 + c = 63
                 THEN (-9223372036854775807 - 1)::BIGINT
                 ELSE 1::BIGINT << cast(r * 8 + c AS int) END
               ELSE 0::BIGINT END) AS dhash
           FROM customer CROSS JOIN grid GROUP BY 1),
         g AS (SELECT dhash, cast(count(*) AS bigint) AS n_same_hash
           FROM h GROUP BY 1)
         SELECT c_custkey, h.dhash, n_same_hash
         FROM h JOIN g ON h.dhash = g.dhash"""),

    // ---- EXT: medallion pipeline (bronze → silver → gold + audit) ----
    Gate("q319_medallion", (s, dir) => {
      // the warehouse-shaped sibling of q86's pretrain pipeline: quarantine
      // invalid rows (CHECK-style predicate), collapse duplicate
      // (user, ts, type) events keeping the lowest id, roll up the gold
      // daily grain, and carry the bronze/quarantine/dedup audit counts on
      // every row (broadcast 1-row audit — lineage you can SELECT). Every
      // stage is a pure frame transform; counts are exact integers and
      // revenue an exact decimal sum.
      val bronze = Tables.events(s, dir)
      val quarantined = bronze.filter(col("value") < 1.0d)
      val valid = bronze.filter(col("value") >= 1.0d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("ts"), col("event_type"))
        .orderBy(col("event_id").asc)
      val silver = valid.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val audit = bronze.agg(count(lit(1)).as("n_bronze"))
        .crossJoin(broadcast(quarantined.agg(count(lit(1)).as("n_quarantined"))))
        .crossJoin(broadcast(silver.agg(count(lit(1)).as("__ns"))))
        .withColumn("n_dups_dropped",
          col("n_bronze") - col("n_quarantined") - col("__ns"))
        .select(col("n_bronze"), col("n_quarantined"), col("n_dups_dropped"))
      silver
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          (round(sum(col("value").cast(D)).cast("double"), 2) + lit(0.0d))
            .as("revenue"))
        .crossJoin(broadcast(audit))
    },
      // medallion: quarantine → dedup-keep-lowest-id → gold rollup, audit
      // counts broadcast onto every row
      oracle = """WITH bronze AS (SELECT * FROM events),
         quarantined AS (SELECT * FROM bronze WHERE value < 1.0),
         valid AS (SELECT * FROM bronze WHERE value >= 1.0),
         silver AS (SELECT * FROM (SELECT *, row_number() OVER (
             PARTITION BY user_id, ts, event_type ORDER BY event_id) AS rn
           FROM valid) WHERE rn = 1),
         audit AS (SELECT
             (SELECT cast(count(*) AS bigint) FROM bronze) AS n_bronze,
             (SELECT cast(count(*) AS bigint) FROM quarantined)
               AS n_quarantined,
             (SELECT cast(count(*) AS bigint) FROM bronze)
               - (SELECT cast(count(*) AS bigint) FROM quarantined)
               - (SELECT cast(count(*) AS bigint) FROM silver)
               AS n_dups_dropped)
         SELECT cast(date_trunc('day', ts) AS date) AS day, event_type,
           cast(count(*) AS bigint) AS n_events,
           cast(count(DISTINCT user_id) AS bigint) AS n_users,
           round(cast(sum(cast(value AS decimal(18,2))) AS double), 2) + 0.0
             AS revenue,
           n_bronze, n_quarantined, n_dups_dropped
         FROM silver CROSS JOIN audit
         GROUP BY 1, 2, n_bronze, n_quarantined, n_dups_dropped"""),

    // ---- EXT: schema-evolution merged read (on-disk round trip) ----
    Gate("q418_schema_evolution", (s, dir) => {
      // lakehouse schema evolution, end to end ON DISK: a v1 snapshot
      // (orders before 1998 — written before the priority column existed)
      // and a v2 snapshot (priority added) land as separate parquet
      // directories, are read back independently, and merge with
      // unionByName(allowMissingColumns = true) — the column missing from
      // v1 materializes as NULL, the mergeSchema contract. The rollup
      // proves both the byte round trip and the merge semantics (the
      // LEGACY bucket is exactly the v1 row count). At 100 TB schema
      // evolution is append-time metadata only: old files are never
      // rewritten, and the merged scan still prunes columns per file.
      val o = Tables.orders(s, dir)
      val root = java.nio.file.Files
        .createTempDirectory("graft_schema_evo").toString
      o.filter(col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$root/v1")
      o.filter(col("o_orderdate") >= lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$root/v2")
      s.read.parquet(s"$root/v1")
        .unionByName(s.read.parquet(s"$root/v2"), allowMissingColumns = true)
        .groupBy(coalesce(col("o_orderpriority"), lit("LEGACY"))
          .as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(D)).cast("double").as("sum_price"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
    },
      // v1 rows (pre-1995) carry no priority column on disk; the merged read
      // materializes NULL for them — modeled here by explicit NULL padding.
      oracle = """WITH merged AS (
           SELECT o_orderkey, o_custkey, o_totalprice,
             NULL AS o_orderpriority
           FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
           UNION ALL
           SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
           FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
         SELECT coalesce(o_orderpriority, 'LEGACY') AS priority,
           cast(count(*) AS bigint) AS n,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS sum_price,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         FROM merged GROUP BY 1"""),

    // ---- EXT: multimodal microbatch manifest (bucketed batch packing) ----
    Gate("q439_microbatch_manifest", (s, dir) => {
      // the step AFTER q256's aspect bucketing: pack each bucket's images
      // into fixed-size training microbatches (32, drop-last — uniform
      // shapes per batch is the whole point of bucketing). Batch id is
      // pure slot algebra over the per-bucket rank (key-partitioned
      // window); the summary carries a per-bucket membership checksum
      // (exact integer sum of batched doc_ids) so the manifest is
      // reproducible byte-for-byte.
      import org.apache.spark.sql.expressions.Window
      val buckets = s.createDataFrame(Seq(
        (1, 1024, 1024), (2, 1152, 896), (3, 896, 1152),
        (4, 1216, 832), (5, 832, 1216), (6, 1344, 768), (7, 768, 1344)
      )).toDF("bidx", "bw", "bh")
      val imgs = Tables.documents(s, dir).select(col("doc_id"),
        (lit(256) + col("doc_id") % 1024).cast("double").as("w"),
        (lit(256) + (col("doc_id") * 7) % 1024).cast("double").as("h"))
      val scored = imgs.crossJoin(broadcast(buckets))
        .withColumn("diff", round(abs(
          log(col("w") / col("h")) -
            log(col("bw").cast("double") / col("bh").cast("double"))), 9))
      val wPick = Window.partitionBy(col("doc_id"))
        .orderBy(col("diff"), col("bidx"))
      val assigned = scored.withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("bidx"), col("bw"), col("bh"))
      val wRank = Window.partitionBy(col("bidx")).orderBy(col("doc_id"))
      assigned
        .withColumn("__r", row_number().over(wRank))
        .withColumn("__nb", count(lit(1)).over(
          Window.partitionBy(col("bidx"))))
        .withColumn("__batched", expr("__r <= (__nb div 32) * 32"))
        .groupBy(col("bidx"), col("bw"), col("bh"))
        .agg(count(lit(1)).as("n_images"),
          expr("count(1) div 32").as("n_batches"),
          (count(lit(1)) - (expr("count(1) div 32") * 32)).as("n_dropped"),
          sum(when(col("__batched"), col("doc_id")).otherwise(0L))
            .as("batched_docid_sum"))
    },
      oracle = """WITH buckets AS (SELECT * FROM (VALUES
           (1, 1024, 1024), (2, 1152, 896), (3, 896, 1152),
           (4, 1216, 832), (5, 832, 1216), (6, 1344, 768), (7, 768, 1344))
           AS b(bidx, bw, bh)),
         imgs AS (SELECT doc_id,
             cast(256 + doc_id % 1024 AS double) AS w,
             cast(256 + (doc_id * 7) % 1024 AS double) AS h
           FROM documents),
         scored AS (SELECT doc_id, bidx, bw, bh,
             round(abs(ln(w / h)
               - ln(cast(bw AS double) / cast(bh AS double))), 9) AS diff
           FROM imgs CROSS JOIN buckets),
         asg AS (SELECT doc_id, bidx, bw, bh FROM (
             SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY diff, bidx) AS rn
             FROM scored) WHERE rn = 1),
         rk AS (SELECT *, row_number() OVER (PARTITION BY bidx
               ORDER BY doc_id) AS r,
             count(*) OVER (PARTITION BY bidx) AS nb
           FROM asg)
         SELECT bidx, bw, bh, cast(count(*) AS bigint) AS n_images,
           cast(count(*) // 32 AS bigint) AS n_batches,
           cast(count(*) - (count(*) // 32) * 32 AS bigint) AS n_dropped,
           cast(sum(CASE WHEN r <= (nb // 32) * 32 THEN doc_id ELSE 0 END)
             AS bigint) AS batched_docid_sum
         FROM rk GROUP BY 1, 2, 3"""),

    // ---- EXT: DataSource V2 GeoJSONL reader, end to end ----
    Gate("q441_geojson_source", (s, dir) => {
      // the custom-CONNECTOR vertical (TableProvider → Table → ScanBuilder
      // with column pruning → per-file InputPartitions → InternalRow
      // reader): one GeoJSON feature per customer is written as GeoJSONL
      // shards via the text sink, read back through
      // format("graft-geojson"), and aggregated — identity against the
      // oracle's recomputation from the source table proves the writer,
      // the parser, and the nested InternalRow construction (ring array,
      // props map) byte-exact. Coordinates are integers in the JSON so
      // no engine renders a float.
      val root = cachedFixture(s"q441:$dir") { r => Tables.customer(s, dir)
        .select(concat(
          lit("{\"type\":\"Feature\",\"id\":\"c"), col("c_custkey"),
          lit("\",\"geometry\":{\"type\":\"Polygon\",\"coordinates\":[[["),
          (col("c_custkey") % 20) * 10, lit(","),
          expr("(c_custkey div 20) * 10"), lit("],["),
          (col("c_custkey") % 20) * 10 + 5, lit(","),
          expr("(c_custkey div 20) * 10"), lit("],["),
          (col("c_custkey") % 20) * 10 + 5, lit(","),
          expr("(c_custkey div 20) * 10 + 5"), lit("],["),
          (col("c_custkey") % 20) * 10, lit(","),
          expr("(c_custkey div 20) * 10 + 5"), lit("],["),
          (col("c_custkey") % 20) * 10, lit(","),
          expr("(c_custkey div 20) * 10"),
          lit("]]]},\"properties\":{\"name\":\""), col("c_name"),
          lit("\"}}")).as("value"))
        .write.mode("overwrite").text(r)
      }
      s.read.format("graft-geojson").load(root)
        .select(col("gtype"), length(col("id")).as("idlen"),
          size(col("ring")).as("nv"),
          expr("ring[0][0]").as("x0"), expr("ring[2][0]").as("x2"),
          length(element_at(col("props"), "name")).as("namelen"))
        .groupBy(col("gtype"))
        .agg(count(lit(1)).as("n_features"),
          sum(col("nv").cast("long")).as("n_vertices"),
          min(col("x0")).cast("long").as("min_x"),
          max(col("x2")).cast("long").as("max_x"),
          sum(col("idlen").cast("long")).as("sum_id_len"),
          sum(col("namelen").cast("long")).as("sum_name_len"))
    },
      // recomputed from the source table — file-identity is what the gate
      // proves on the Spark side
      oracle = """WITH f AS (SELECT c_custkey AS k,
             (c_custkey % 20) * 10 AS x, (c_custkey // 20) * 10 AS y,
             c_name
           FROM customer)
         SELECT 'Polygon' AS gtype, cast(count(*) AS bigint) AS n_features,
           cast(count(*) * 5 AS bigint) AS n_vertices,
           cast(min(x) AS bigint) AS min_x,
           cast(max(x + 5) AS bigint) AS max_x,
           cast(sum(length('c' || cast(k AS varchar))) AS bigint)
             AS sum_id_len,
           cast(sum(length(c_name)) AS bigint) AS sum_name_len
         FROM f"""),

    // ---- EXT: DSv2 aggregate pushdown (COUNT(*) at metadata speed) ----
    Gate("q447_count_pushdown", (s, dir) => {
      // the connector's SupportsPushDownAggregates arm: COUNT(*) over a
      // GeoJSONL lake never parses a feature — each shard answers one
      // partial-count row (non-blank line count) and Spark sums the
      // partials. The plan shape (GeoJsonCountScan, no row-path parse) is
      // spec-asserted in Wave15Spec; this gate pins the ANSWER against
      // the source-table oracle across multiple shards.
      val root = cachedFixture(s"q447:$dir") { r => Tables.customer(s, dir)
        .select(concat(
          lit("{\"type\":\"Feature\",\"id\":\"c"), col("c_custkey"),
          lit("\",\"geometry\":{\"type\":\"Polygon\",\"coordinates\":" +
            "[[[0,0],[1,0],[1,1],[0,0]]]},\"properties\":{}}")).as("value"))
        .repartition(4)
        .write.mode("overwrite").text(r)
      }
      s.read.format("graft-geojson").load(root)
        .createOrReplaceTempView("__geojson_cnt")
      s.sql("SELECT count(*) AS n_features FROM __geojson_cnt")
    },
      // every customer became exactly one GeoJSONL feature; the pushed
      // shard-count partials must sum to the source cardinality
      oracle = "SELECT count(*) AS n_features FROM customer"),

    // ---- EXT: DSv2 LIMIT pushdown (shard readers stop early) ----
    Gate("q473_limit_pushdown", (s, dir) => {
      // the connector's SupportsPushDownLimit arm: LIMIT n caps every
      // shard reader at n rows (partial push — the engine applies the
      // global limit on top), so a LIMIT-k probe over a 100 TB lake
      // reads k lines per shard head, never the lake. The early-stop
      // behavior is spec-asserted (GeoJsonSourceSpec reader counter);
      // this gate pins the two ANSWERS a user sees: the limited count
      // and the (aggregate-pushed) full count from the same lake.
      val root = cachedFixture(s"q473:$dir") { r => Tables.customer(s, dir)
        .select(concat(
          lit("{\"type\":\"Feature\",\"id\":\"c"), col("c_custkey"),
          lit("\",\"geometry\":{\"type\":\"Point\",\"coordinates\":" +
            "[[0,0]]},\"properties\":{}}")).as("value"))
        .repartition(4)
        .write.mode("overwrite").text(r)
      }
      val lake = s.read.format("graft-geojson").load(root)
      lake.limit(7).agg(count(lit(1)).as("n_limited"))
        .crossJoin(lake.agg(count(lit(1)).as("n_total")))
        .select(col("n_limited"), col("n_total"))
    },
      // the limited count is the limit itself (lake >> 7 rows); the full
      // count equals the source cardinality
      oracle = """SELECT cast(7 AS bigint) AS n_limited,
           count(*) AS n_total FROM customer"""),

    // ---- EXT: storage-partitioned join over co-bucketed lakes ----
    Gate("q448_spj_join", (s, dir) => {
      // two GeoJSONL lakes laid out pkey=N/ and read bucketed: the
      // connector reports KeyGroupedPartitioning, so the fact⋈dim join
      // below plans ZERO exchanges (SPJ — proven structurally in
      // StoragePartitionedJoinSpec; this gate pins the ANSWER through
      // that plan against a plain SQL oracle). The 100 TB claim: two
      // co-bucketed lakes of any size join as a per-bucket zip.
      def lake(tag: String, df: org.apache.spark.sql.DataFrame): String =
        cachedFixture(s"q448:$tag:$dir") { root =>
          df.repartition(col("pkey"))
            .write.partitionBy("pkey").mode("overwrite").text(root)
        }
      val lroot = lake("cust", Tables.customer(s, dir)
        .select((col("c_custkey") % 8).cast("int").as("pkey"),
          concat(lit("{\"type\":\"Feature\",\"id\":\"c"), col("c_custkey"),
            lit("\",\"geometry\":{\"type\":\"Polygon\",\"coordinates\":" +
              "[[[0,0],[1,0],[1,1],[0,0]]]},\"properties\":{\"name\":\""),
            col("c_name"), lit("\"}}")).as("value")))
      val rroot = lake("ord", Tables.orders(s, dir)
        .select((col("o_custkey") % 8).cast("int").as("pkey"),
          concat(lit("{\"type\":\"Feature\",\"id\":\"c"), col("o_custkey"),
            lit("\",\"geometry\":{\"type\":\"Polygon\",\"coordinates\":" +
              "[[[0,0],[1,0],[1,1],[0,0]]]},\"properties\":{\"okey\":\""),
            col("o_orderkey"), lit("\"}}")).as("value")))
      def rd(p: String) = s.read.format("graft-geojson")
        .option("bucketed", "true").load(p)
      rd(lroot).as("l").join(rd(rroot).as("r"), Seq("pkey", "id"))
        .groupBy(col("pkey"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("id")).as("n_customers"),
          sum(length(element_at(col("l.props"), "name")).cast("long"))
            .as("sum_name_len"))
    },
      // the SPJ gate's join is semantically orders⋈customer on custkey,
      // bucket key = custkey % 8
      oracle = """SELECT cast(o_custkey % 8 AS int) AS pkey, count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_customers,
           cast(sum(length(c_name)) AS bigint) AS sum_name_len
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1"""),

    // ---- EXT: V2 writer round-trip (commit-protocol write arm) ----
    Gate("q449_v2_write_roundtrip", (s, dir) => {
      // q441 through the connector's OWN write path instead of the text
      // sink: DataFrame rows → GeoJsonShardWriter temp files → commit
      // renames → reader. Equality with the q441-shape oracle proves the
      // serializer, the commit protocol, and the parser are inverse to
      // each other (integer-exact coordinate rendering keeps the
      // round-trip byte-deterministic).
      val root = java.nio.file.Files
        .createTempDirectory("graft_geojson_w").toString
      val x = (col("c_custkey") % 20).cast("double") * 10
      val y = expr("cast(c_custkey div 20 as double)") * 10
      Tables.customer(s, dir).select(
          concat(lit("c"), col("c_custkey")).as("id"),
          lit("Polygon").as("gtype"),
          array(array(x, y), array(x + 5, y), array(x + 5, y + 5),
            array(x, y + 5), array(x, y)).as("ring"),
          map(lit("name"), col("c_name")).as("props"))
        .write.format("graft-geojson").mode("overwrite").save(root)
      s.read.format("graft-geojson").load(root)
        .select(col("gtype"), length(col("id")).as("idlen"),
          size(col("ring")).as("nv"),
          expr("ring[0][0]").as("x0"), expr("ring[2][0]").as("x2"),
          length(element_at(col("props"), "name")).as("namelen"))
        .groupBy(col("gtype"))
        .agg(count(lit(1)).as("n_features"),
          sum(col("nv").cast("long")).as("n_vertices"),
          min(col("x0")).cast("long").as("min_x"),
          max(col("x2")).cast("long").as("max_x"),
          sum(col("idlen").cast("long")).as("sum_id_len"),
          sum(col("namelen").cast("long")).as("sum_name_len"))
    },
      // identical shape to the q441 oracle — the write path must be
      // invisible to the aggregate
      oracle = """WITH f AS (SELECT c_custkey AS k,
             (c_custkey % 20) * 10 AS x, (c_custkey // 20) * 10 AS y,
             c_name
           FROM customer)
         SELECT 'Polygon' AS gtype, cast(count(*) AS bigint) AS n_features,
           cast(count(*) * 5 AS bigint) AS n_vertices,
           cast(min(x) AS bigint) AS min_x,
           cast(max(x + 5) AS bigint) AS max_x,
           cast(sum(length('c' || cast(k AS varchar))) AS bigint)
             AS sum_id_len,
           cast(sum(length(c_name)) AS bigint) AS sum_name_len
         FROM f"""),

    // ---- F13 closure: GeoTIFF CRS/georeferencing via the IFD byte-walk ----
    Gate("q488_geotiff_crs", (s, dir) => {
      // per-row GeoTIFF fixture whose GeoKeyDirectory / ModelPixelScale /
      // ModelTiepoint derive from custkey integer algebra; the oracle
      // recomputes epsg/model/scale/tie from the same integers, so the
      // GeoKey byte-walk is exactly what the hash verifies (the q112
      // recipe applied to the reference's GDAL metadata path,
      // services/file-service/requirements.txt:11-12 → init.sql:49)
      val bridge = org.apache.spark.sql.GraftColumnBridge
      val g = bridge.column(graft.functions.GeoTiffCrs(
        graft.functions.GeoTiffFixture(bridge.expression(col("c_custkey")))))
      Tables.customer(s, dir).select(col("c_custkey"), g.as("__g"))
        .select(col("c_custkey"),
          col("__g.epsg").as("epsg"),
          col("__g.model_type").as("model_type"),
          col("__g.scale_x").as("scale_x"),
          col("__g.scale_y").as("scale_y"),
          col("__g.tie_x").as("tie_x"),
          col("__g.tie_y").as("tie_y"))
    },
      // GeoTIFF CRS: the fixture's GeoKey/scale/tiepoint algebra from the
      // same custkey integers (micros / 1e6 — identical IEEE division)
      oracle = """SELECT c_custkey,
           cast(CASE WHEN c_custkey % 2 = 0 THEN 32601 + c_custkey // 2 % 60
             ELSE 4001 + c_custkey // 2 % 900 END AS int) AS epsg,
           cast(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 2 END AS int)
             AS model_type,
           cast(100000 + c_custkey % 900000 AS double) / 1000000.0 AS scale_x,
           cast(50000 + c_custkey % 450000 AS double) / 1000000.0 AS scale_y,
           cast(c_custkey * 1111 % 500000000 AS double) / 1000000.0 AS tie_x,
           cast(c_custkey * 777 % 200000000 AS double) / 1000000.0 AS tie_y
         FROM customer"""),

    // ---- DECL closure: LAS point-cloud header metadata ----
    Gate("q489_las_header", (s, dir) => {
      // per-row 375-byte LAS 1.4 public header planted from custkey
      // integer micros (bbox sums run in integer micros before one /1e6
      // division — engine-exact doubles); closes the reference's
      // point_cloud file type (init.sql:8)
      val bridge = org.apache.spark.sql.GraftColumnBridge
      val m = bridge.column(graft.functions.LasMeta(
        graft.functions.LasFixture(bridge.expression(col("c_custkey")))))
      Tables.customer(s, dir).select(col("c_custkey"), m.as("__m"))
        .select(col("c_custkey"),
          col("__m.version_major").as("version_major"),
          col("__m.version_minor").as("version_minor"),
          col("__m.point_format").as("point_format"),
          col("__m.n_points").as("n_points"),
          col("__m.min_x").as("min_x"), col("__m.max_x").as("max_x"),
          col("__m.min_y").as("min_y"), col("__m.max_y").as("max_y"),
          col("__m.min_z").as("min_z"), col("__m.max_z").as("max_z"))
    },
      // LAS header: version/format/count + the bbox micros algebra
      oracle = """SELECT c_custkey,
           cast(1 AS int) AS version_major, cast(4 AS int) AS version_minor,
           cast(c_custkey % 11 AS int) AS point_format,
           cast(c_custkey * 7 + 1 AS bigint) AS n_points,
           cast(c_custkey * 13 % 340000000 - 170000000 AS double)
             / 1000000.0 AS min_x,
           cast(c_custkey * 13 % 340000000 - 170000000
             + 1000000 + c_custkey % 9000000 AS double) / 1000000.0 AS max_x,
           cast(c_custkey * 17 % 160000000 - 80000000 AS double)
             / 1000000.0 AS min_y,
           cast(c_custkey * 17 % 160000000 - 80000000
             + 500000 + c_custkey % 4500000 AS double) / 1000000.0 AS max_y,
           cast(c_custkey % 5000000 AS double) / 1000000.0 AS min_z,
           cast(c_custkey % 5000000
             + 100000 + c_custkey % 900000 AS double) / 1000000.0 AS max_z
         FROM customer"""),

    // ---- EXT closure: REAL image→vector features (block-mean grid) ----
    Gate("q490_image_feature", (s, dir) => {
      // genuine 16×16 BMP bytes per row, decoded by javax.imageio inside
      // the ImageFeature64 expression; each of the 64 block means is an
      // exact integer rational the oracle recomputes from the pixel
      // formula (q308's fixture discipline for the embedding producer)
      val bridge = org.apache.spark.sql.GraftColumnBridge
      val f = graft.operators.Multimodal.imageBlockMeans(
        bridge.column(graft.functions.FeatureBmpFixture(
          bridge.expression(col("c_custkey")),
          bridge.expression(lit(0L)))))
      Tables.customer(s, dir).select(col("c_custkey"),
        posexplode(f).as(Seq("block_idx", "mean_gray")))
    },
      // image features: each block mean is the exact mean of its four
      // fixture pixels — quadratic-mixed intensities in pure integer SQL
      oracle = """WITH base AS (
           SELECT c_custkey, unnest(generate_series(0, 63)) AS idx
           FROM customer),
         px AS (
           SELECT c_custkey, idx,
             (c_custkey % 1000000) * 256
               + ((idx // 8) * 2) * 16 + (idx % 8) * 2 AS v00,
             (c_custkey % 1000000) * 256
               + ((idx // 8) * 2) * 16 + (idx % 8) * 2 + 1 AS v01,
             (c_custkey % 1000000) * 256
               + ((idx // 8) * 2 + 1) * 16 + (idx % 8) * 2 AS v10,
             (c_custkey % 1000000) * 256
               + ((idx // 8) * 2 + 1) * 16 + (idx % 8) * 2 + 1 AS v11
           FROM base)
         SELECT c_custkey, cast(idx AS int) AS block_idx,
           cast(v00 * v00 % 999983 % 252 + v01 * v01 % 999983 % 252
              + v10 * v10 % 999983 % 252 + v11 * v11 % 999983 % 252
             AS double) / 4.0 AS mean_gray
         FROM px"""),

    // ---- EXT closure: REAL audio metadata (WAV/RIFF chunk walk) ----
    Gate("q493_wav_header", (s, dir) => {
      // per-row 16-bit PCM WAV fixture planted from custkey integer
      // algebra (the q489 recipe applied to the AUDIO modality): the
      // RIFF/fmt/data chunk walk is exactly what the hash verifies,
      // including the integer-division duration_ms
      val bridge = org.apache.spark.sql.GraftColumnBridge
      val m = bridge.column(graft.functions.WavMeta(
        graft.functions.WavFixture(bridge.expression(col("c_custkey")))))
      Tables.customer(s, dir).select(col("c_custkey"), m.as("__m"))
        .select(col("c_custkey"),
          col("__m.audio_format").as("audio_format"),
          col("__m.channels").as("channels"),
          col("__m.sample_rate").as("sample_rate"),
          col("__m.bits").as("bits"),
          col("__m.n_frames").as("n_frames"),
          col("__m.duration_ms").as("duration_ms"))
    },
      // WAV header: the fixture's integer algebra, incl. integer-division ms
      oracle = """SELECT c_custkey,
           cast(1 AS int) AS audio_format,
           cast(1 + c_custkey % 2 AS int) AS channels,
           cast(8000 + c_custkey * 37 % 40000 AS int) AS sample_rate,
           cast(16 AS int) AS bits,
           cast(64 + c_custkey % 192 AS bigint) AS n_frames,
           cast((64 + c_custkey % 192) * 1000
             // (8000 + c_custkey * 37 % 40000) AS bigint) AS duration_ms
         FROM customer"""),

    // ---- EXT: REAL audio features (per-block PCM energy) ----
    Gate("q494_audio_energy", (s, dir) => {
      // the audio sibling of q490: 8 balanced blocks over the fixture's
      // interleaved sample stream, Σv²∕count per block — integer sums,
      // one final division, so the oracle recomputes every energy from
      // the same LCG sample formula exactly
      val bridge = org.apache.spark.sql.GraftColumnBridge
      val e = bridge.column(graft.functions.WavBlockEnergy(
        graft.functions.WavFixture(bridge.expression(col("c_custkey"))), 8))
      Tables.customer(s, dir).select(col("c_custkey"), e.as("__e"))
        .select(col("c_custkey"),
          posexplode(col("__e")).as(Seq("block_idx", "energy")))
    },
      // audio block energy: regenerate the LCG sample stream, balanced
      // 8-block split, Σv²∕count as double — engine-exact integer rationals
      oracle = """WITH base AS (
           SELECT c_custkey,
             (1 + c_custkey % 2) * (64 + c_custkey % 192) AS n
           FROM customer),
         idx AS (
           SELECT c_custkey, n, unnest(generate_series(0, n - 1)) AS j
           FROM base),
         smp AS (
           SELECT c_custkey, (j * 8) // n AS block_idx,
             (c_custkey * 48271 + j * 16807) % 65536 - 32768 AS v
           FROM idx)
         SELECT c_custkey, cast(block_idx AS int) AS block_idx,
           cast(sum(v * v) AS double) / count(*) AS energy
         FROM smp GROUP BY c_custkey, block_idx"""),

    // ---- EXT closure: REAL video metadata (MP4 mvhd box walk) ----
    Gate("q495_mp4_moov", (s, dir) => {
      // per-row minimal ISO-BMFF fixture, mvhd version alternating 0/1 on
      // custkey parity so BOTH time layouts (u32/u64) are hash-verified;
      // duration_ms is the integer-division presentation length a frame
      // SAMPLING plan (q197) consumes
      val bridge = org.apache.spark.sql.GraftColumnBridge
      val m = bridge.column(graft.functions.Mp4Meta(
        graft.functions.Mp4Fixture(bridge.expression(col("c_custkey")))))
      Tables.customer(s, dir).select(col("c_custkey"), m.as("__m"))
        .select(col("c_custkey"),
          col("__m.brand").as("brand"),
          col("__m.version").as("version"),
          col("__m.timescale").as("timescale"),
          col("__m.duration").as("duration"),
          col("__m.duration_ms").as("duration_ms"))
    },
      // MP4 mvhd: brand/version/timescale/duration + integer-division ms
      oracle = """SELECT c_custkey,
           'isom' AS brand,
           cast(c_custkey % 2 AS int) AS version,
           cast(600 + c_custkey * 11 % 90000 AS int) AS timescale,
           cast(c_custkey * 31 % 100000000 AS bigint) AS duration,
           cast((c_custkey * 31 % 100000000) * 1000
             // (600 + c_custkey * 11 % 90000) AS bigint) AS duration_ms
         FROM customer"""),

    // ---- EXT: connector time travel (version-as-of on the V2 source) ----
    Gate("q500_geojson_snapshot", (s, dir) => {
      // Iceberg-style snapshot read on the engine's OWN connector: the
      // GeoJSONL lake's append contract is monotone shard names (the same
      // axis the streaming offsets count, q442), so `snapshotFiles = 5`
      // IS "the table as of version 5" — and a batch reader can replay
      // exactly what micro-batches 0..4 saw. Eight shards are written
      // with DETERMINISTIC membership (shard j = custkey ≡ j mod 8) so
      // the oracle recomputes the snapshot's row set from first
      // principles; sum(custkey) fingerprints membership exactly.
      val root = cachedFixture(s"q500:$dir") { r =>
       for (j <- 0 until 8) {
        val tmp = s"$r/_tmp$j"
        Tables.customer(s, dir).filter(col("c_custkey") % 8 === j)
          .select(concat(
            lit("{\"type\":\"Feature\",\"id\":\"c"), col("c_custkey"),
            lit("\",\"geometry\":{\"type\":\"Polygon\",\"coordinates\":[[["),
            (col("c_custkey") % 20) * 10, lit(","),
            expr("(c_custkey div 20) * 10"), lit("],["),
            (col("c_custkey") % 20) * 10 + 5, lit(","),
            expr("(c_custkey div 20) * 10"), lit("],["),
            (col("c_custkey") % 20) * 10, lit(","),
            expr("(c_custkey div 20) * 10 + 5"), lit("],["),
            (col("c_custkey") % 20) * 10, lit(","),
            expr("(c_custkey div 20) * 10"),
            lit("]]]},\"properties\":{\"shard\":\""), lit(j),
            lit("\"}}")).as("value"))
          .coalesce(1).write.mode("overwrite").text(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(f => f.isFile && f.getName.startsWith("part-")).head
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(r, f"shard$j%02d.jsonl"))
        // drop the _tmp write dir so the lake holds ONLY the shards
        val t = new java.io.File(tmp)
        Option(t.listFiles()).foreach(_.foreach(_.delete()))
        t.delete(): Unit
       }
      }
      s.read.format("graft-geojson").option("snapshotFiles", "5").load(root)
        .select(expr("cast(substring(id, 2) as long)").as("ck"),
          expr("ring[0][0]").as("x0"))
        .agg(count(lit(1)).as("n_features"),
          sum(col("ck")).as("sum_custkey"),
          sum(col("x0")).cast("long").as("sum_x0"),
          max(col("x0")).cast("long").as("max_x0"))
    },
      // connector snapshot: membership = custkey mod-8 shards 0..4
      oracle = """SELECT cast(count(*) AS bigint) AS n_features,
           cast(sum(c_custkey) AS bigint) AS sum_custkey,
           cast(sum((c_custkey % 20) * 10) AS bigint) AS sum_x0,
           cast(max((c_custkey % 20) * 10) AS bigint) AS max_x0
         FROM customer WHERE c_custkey % 8 <= 4"""),

    // ---- EXT FLAGSHIP: mixed-modality ingest → files table → dedup ----
    Gate("q502_multimodal_ingest", (s, dir) => {
      // the reference's §3.3 upload flow at its fullest (round-7 verdict
      // item 7): ONE binary directory holding five REAL formats (BMP
      // images, PCM WAVs, MP4s, LAS point clouds, GeoTIFFs — by
      // custkey%16 slot) plus planted junk, pushed through
      // Ingest.pipeline (sniff → allowlist → quarantine), flattened into
      // ONE files table with per-type metadata columns, and near-dup'd
      // ACROSS modalities in one embedding space. Planted truth: slots
      // 0-3 are image near-dups of their 16-block (FeatureBmpFixture),
      // slots 4-7 audio near-dups (WavGroupFixture); the unified
      // embeddingNearDups must recover exactly those within-modality
      // pairs — no image⋈audio false merges — and every metadata cell is
      // custkey integer algebra the oracle recomputes.
      val root = mixedLake(s, dir)
      val (valid, _) = graft.operators.Ingest.pipeline(
        graft.operators.Ingest.readBinaryDir(s, root), "p-mixed",
        graft.operators.Ingest.MediaMime)
      // ONE flattened files table (localCheckpoint: the binaryFile lake is
      // scanned once; the dedup's band/verify joins replay from blocks)
      withPartners(multimodalFlat(valid).localCheckpoint(eager = false))
    },
      // multimodal flagship: every valid file's mime/size/per-type metadata
      // is slot+custkey integer algebra (the q488/q489/q493/q495 formulas);
      // partners = within-16-block same-modality near-dup count, 0 for the
      // modalities with no feature path; slots 14-15 are quarantined junk
      oracle = MultimodalIngestSql),

    // ---- EXT: the §3.4 ASYNC arm of the flagship — streamed ingest ----
    Gate("q510_stream_multimodal_ingest", (s, dir) => {
      // the SAME mixed lake as q502, replayed as a REAL binaryFile STREAM
      // through the SAME Ingest.pipeline into an exactly-once append
      // parquet sink (checkpoint + commit log), then the SAME dedup tail
      // over the read-back — so this gate shares q502's oracle verbatim:
      // stream == batch for the reference's whole upload→process→track
      // flow (round-8 verdict item 5). Harness-excluded from bench like
      // every replay gate (its wall time measures micro-batch plumbing).
      val root = mixedLake(s, dir)
      val n = Tables.customer(s, dir).count()
      val sunk = graft.streaming.Streams.replayedBinaryIngest(
        s, root, "q510_multimodal", graft.operators.Ingest.MediaMime,
        filesPerTrigger = math.max(1L, n / 6).toInt)(multimodalFlat)
      withPartners(sunk.localCheckpoint(eager = false))
    },
      // streamed flagship: the SAME lake through the SAME pipeline — the
      // stream/batch equivalence claim IS sharing q502's oracle verbatim
      oracle = MultimodalIngestSql),

    // ---- EXT: per-clip PCM quality statistics ----
    Gate("q504_audio_stats", (s, dir) => {
      // the audio quality-filter primitive (peak, clipping at the 16-bit
      // rails, exact mean square, zero crossings) over the q493/q494 LCG
      // fixture — every field integer algebra the oracle recomputes
      val bridge = org.apache.spark.sql.GraftColumnBridge
      val st = graft.operators.Multimodal.audioStats(
        bridge.column(graft.functions.WavFixture(
          bridge.expression(col("c_custkey")))))
      Tables.customer(s, dir).select(col("c_custkey"), st.as("__s"))
        .select(col("c_custkey"),
          col("__s.n_samples").as("n_samples"),
          col("__s.peak_abs").as("peak_abs"),
          col("__s.n_clipped").as("n_clipped"),
          col("__s.mean_square").as("mean_square"),
          col("__s.zero_crossings").as("zero_crossings"))
    },
      // PCM stats: LCG sample regeneration, exact integer aggregates, and
      // a lag window over nonzero signs for the crossing count
      oracle = """WITH base AS (
           SELECT c_custkey,
             (1 + c_custkey % 2) * (64 + c_custkey % 192) AS n
           FROM customer),
         smp AS (
           SELECT c_custkey, j,
             (c_custkey * 48271 + j * 16807) % 65536 - 32768 AS v
           FROM (SELECT c_custkey, n, unnest(generate_series(0, n - 1)) AS j
                 FROM base) x),
         agg AS (SELECT c_custkey,
             cast(count(*) AS bigint) AS n_samples,
             cast(max(abs(v)) AS int) AS peak_abs,
             cast(sum(CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END)
               AS bigint) AS n_clipped,
             cast(sum(v * v) AS double) / count(*) AS mean_square
           FROM smp GROUP BY 1),
         nz AS (SELECT c_custkey, j,
             CASE WHEN v > 0 THEN 1 ELSE -1 END AS s
           FROM smp WHERE v <> 0),
         w AS (SELECT c_custkey, s,
             lag(s) OVER (PARTITION BY c_custkey ORDER BY j) AS p
           FROM nz),
         cr AS (SELECT c_custkey,
             cast(sum(CASE WHEN p IS NOT NULL AND s <> p THEN 1 ELSE 0 END)
               AS bigint) AS zero_crossings
           FROM w GROUP BY 1)
         SELECT a.c_custkey, a.n_samples, a.peak_abs, a.n_clipped,
           a.mean_square, coalesce(cr.zero_crossings, 0) AS zero_crossings
         FROM agg a LEFT JOIN cr ON cr.c_custkey = a.c_custkey"""),

    // ---- EXT: REAL image resize (closes the resizePlan stub) ----
    Gate("q505_image_resize", (s, dir) => {
      // area-average downscale 16×16 → 8×8 (each target pixel = the
      // integer-division mean of its 2×2 source block), then block means
      // of the RESIZED bytes — an 8×8 grid over an 8×8 image is the
      // pixels themselves, so every output cell is integer algebra the
      // oracle recomputes from the q490 pixel formula. The resize output
      // is a real BMP re-ingested by the same ImageIO decode path.
      val bridge = org.apache.spark.sql.GraftColumnBridge
      val resized = graft.operators.Multimodal.resizeImage(
        bridge.column(graft.functions.FeatureBmpFixture(
          bridge.expression(col("c_custkey")),
          bridge.expression(lit(0L)))), 8, 8)
      Tables.customer(s, dir).select(col("c_custkey"),
        posexplode(graft.operators.Multimodal.imageBlockMeans(resized))
          .as(Seq("block_idx", "mean_gray")))
    },
      // resize: q490's pixel formula, each 8×8 target pixel = integer-div
      // mean of its 2×2 source block; 1-pixel block means are the pixels
      oracle = """WITH base AS (
           SELECT c_custkey, unnest(generate_series(0, 63)) AS idx
           FROM customer),
         px AS (
           SELECT c_custkey, idx,
             (c_custkey % 1000000) * 256
               + ((idx // 8) * 2) * 16 + (idx % 8) * 2 AS v00,
             (c_custkey % 1000000) * 256
               + ((idx // 8) * 2) * 16 + (idx % 8) * 2 + 1 AS v01,
             (c_custkey % 1000000) * 256
               + ((idx // 8) * 2 + 1) * 16 + (idx % 8) * 2 AS v10,
             (c_custkey % 1000000) * 256
               + ((idx // 8) * 2 + 1) * 16 + (idx % 8) * 2 + 1 AS v11
           FROM base)
         SELECT c_custkey, cast(idx AS int) AS block_idx,
           cast((v00 * v00 % 999983 % 252 + v01 * v01 % 999983 % 252
               + v10 * v10 % 999983 % 252 + v11 * v11 % 999983 % 252)
             // 4 AS double) AS mean_gray
         FROM px"""),

    // ---- EXT: REAL tile extraction (tileGrid's pixel kernel) ----
    Gate("q507_image_crop", (s, dir) => {
      // cut the center 8×8 patch of the 16×16 fixture and block-mean the
      // CROPPED bytes — 1-pixel blocks are the source pixels at (4+ty,
      // 4+tx), exact integer algebra from the q490 pixel formula; proves
      // the patch geometry tileGrid plans is what the kernel cuts
      val bridge = org.apache.spark.sql.GraftColumnBridge
      val patch = graft.operators.Multimodal.cropImage(
        bridge.column(graft.functions.FeatureBmpFixture(
          bridge.expression(col("c_custkey")),
          bridge.expression(lit(0L)))), 4, 4, 8, 8)
      Tables.customer(s, dir).select(col("c_custkey"),
        posexplode(graft.operators.Multimodal.imageBlockMeans(patch))
          .as(Seq("block_idx", "mean_gray")))
    },
      // crop: the q490 pixel formula at the window offset — block means of
      // the cropped 8×8 are the source pixels at (4+ty, 4+tx)
      oracle = """WITH base AS (
           SELECT c_custkey, unnest(generate_series(0, 63)) AS idx
           FROM customer),
         px AS (
           SELECT c_custkey, idx,
             (c_custkey % 1000000) * 256
               + ((idx // 8) + 4) * 16 + (idx % 8) + 4 AS v
           FROM base)
         SELECT c_custkey, cast(idx AS int) AS block_idx,
           cast(v * v % 999983 % 252 AS double) AS mean_gray
         FROM px"""),

    // ---- EXT: PCM decimation (sample-rate normalization) ----
    Gate("q506_pcm_decimate", (s, dir) => {
      // keep every 2nd frame + halve the header rate, then quality stats
      // over the DECIMATED bytes. Odd custkeys have odd sample rates
      // (8000 + ck·37 mod 40000 keeps ck's parity) → NULL per the
      // divisibility contract — the gate verifies both arms.
      val bridge = org.apache.spark.sql.GraftColumnBridge
      val dec = bridge.column(graft.functions.PcmDecimate(
        graft.functions.WavFixture(bridge.expression(col("c_custkey"))), 2))
      val st = graft.operators.Multimodal.audioStats(dec)
      val m = graft.operators.Multimodal.wavMeta(dec)
      Tables.customer(s, dir)
        .select(col("c_custkey"), st.as("__s"), m.as("__m"))
        .select(col("c_custkey"),
          col("__s").isNotNull.as("decimated"),
          col("__m.sample_rate").as("sample_rate"),
          col("__m.channels").as("channels"),
          col("__s.n_samples").as("n_samples"),
          col("__s.peak_abs").as("peak_abs"),
          col("__s.mean_square").as("mean_square"))
    },
      // decimation: even custkeys (even rate, mono) keep samples j ∈ 2ℕ of
      // the LCG stream at half the rate; odd custkeys are NULL by contract
      oracle = """WITH base AS (
           SELECT c_custkey,
             8000 + c_custkey * 37 % 40000 AS rate,
             64 + c_custkey % 192 AS nf,
             c_custkey % 2 = 0 AS ok
           FROM customer),
         smp AS (
           SELECT c_custkey,
             (c_custkey * 48271 + j * 16807) % 65536 - 32768 AS v
           FROM (SELECT c_custkey, nf,
                   unnest(generate_series(0, nf - 1, 2)) AS j
                 FROM base WHERE ok) x),
         agg AS (SELECT c_custkey,
             cast(count(*) AS bigint) AS n_samples,
             cast(max(abs(v)) AS int) AS peak_abs,
             cast(sum(v * v) AS double) / count(*) AS mean_square
           FROM smp GROUP BY 1)
         SELECT b.c_custkey, b.ok AS decimated,
           CASE WHEN b.ok THEN cast(b.rate // 2 AS int) END AS sample_rate,
           CASE WHEN b.ok THEN cast(1 AS int) END AS channels,
           a.n_samples, a.peak_abs, a.mean_square
         FROM base b LEFT JOIN agg a ON a.c_custkey = b.c_custkey"""),
  )
}
