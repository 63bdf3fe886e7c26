package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import graft.gates.Gate

/** The gate registry. A family module left out of `SparkEntry.gates` would
  * silently shrink Verify and `tools/selfcheck.py`, so every `*Gates` object
  * compiled into `graft.gates` must be registered. */
class RegistrySpec extends AnyFunSuite {
  private val registry = SparkEntry.gates

  test("the registry holds 528 gates with distinct names") {
    assert(registry.size == 528)
    assert(registry.map(_.name).distinct.size == registry.size)
    assert(SparkEntry.queries.keySet == registry.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet == registry.map(_.name).toSet)
  }

  test("every gate has a non-empty oracle") {
    val missing = registry.filter(g => g.oracle == null || g.oracle.trim.isEmpty)
    assert(missing.isEmpty, missing.map(_.name).mkString(", "))
  }

  test("every family object is registered") {
    val classes = new File(classOf[Gate].getProtectionDomain.getCodeSource
      .getLocation.toURI)
    val pkg = new File(classes, "graft/gates")
    assert(pkg.isDirectory, s"$pkg is not a class directory")
    val families = pkg.list().toSeq
      .filter(_.matches("[A-Za-z]+Gates\\$\\.class"))
      .map(_.stripSuffix("$.class")).sorted
    val registered = registry.map(_.name).toSet
    val perFamily = families.map { f =>
      val cls = Class.forName(s"graft.gates.$f$$")
      val gates = cls.getMethod("gates")
        .invoke(cls.getField("MODULE$").get(null)).asInstanceOf[Seq[Gate]]
      assert(gates.nonEmpty, s"$f has no gates")
      val unregistered = gates.map(_.name).filterNot(registered)
      assert(unregistered.isEmpty, s"$f is not registered: $unregistered")
      gates.size
    }
    assert(perFamily.sum == registry.size)
  }
}
