package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps each piece of scaffolding at one implementation: sessions are
  * built only by [[GraftSession]], the query layer and the source
  * layer cache standing artifacts only through
  * [[graft.sources.ArtifactRegistry]], and catalog metadata is read
  * only through [[graft.sources.CatalogOps]] — with no pre-epoch
  * adoption path left in either epoch store, no reliable-checkpoint
  * or early-stop mode in the iterative loops, one set-lookup wave
  * filter and one failure exit in the migrator.
  */
class MechanismCountSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

  private def sources: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    walk(root)
  }

  private def rel(f: java.io.File): String =
    root.toPath.relativize(f.toPath).toString.replace('\\', '/')

  private def mentioning(token: String): Seq[String] = sources
    .filter(f => java.nio.file.Files.readString(f.toPath).contains(token))
    .map(rel).sorted

  test("SparkSession.builder appears only in GraftSession.scala") {
    assert(mentioning("SparkSession.builder") == Seq("graft/GraftSession.scala"))
  }

  test("no computeIfAbsent under graft/queries/ or in sources/Sources.scala") {
    val hits = mentioning("computeIfAbsent").filter(p =>
      p.startsWith("graft/queries/") || p == "graft/sources/Sources.scala")
    assert(hits.isEmpty, s"hand-rolled caches: $hits")
  }

  test("DESC FORMATTED appears only in sources/CatalogOps.scala") {
    val hits = mentioning("DESC FORMATTED")
    assert(hits.forall(_ == "graft/sources/CatalogOps.scala"),
      s"hand-parsed DESC FORMATTED: $hits")
  }

  test("no SHOW CREATE TABLE or pre-epoch adoption code in src/main") {
    Seq("SHOW CREATE TABLE", "legacyFlat", "adoptLegacy",
        "hasAdoptionMarker", "graft.epoch.adopted").foreach { t =>
      assert(mentioning(t).isEmpty, s"$t in ${mentioning(t)}")
    }
  }

  test("no OR-fold of per-partition predicates in src/main") {
    Seq("anyOf", "partitionPredicate(keys, _)", "reduce(_ || _)")
      .foreach(t => assert(mentioning(t).isEmpty, s"$t in ${mentioning(t)}"))
  }

  test("Migrator stamps TableStatus.Failed at one site") {
    val migrator = java.nio.file.Files.readString(
      new java.io.File(root, "graft/orchestrate/Migrator.scala").toPath)
    val stamps = "markStatus\\([^)]*TableStatus\\.Failed\\)".r
      .findAllIn(migrator).size
    assert(stamps == 1, s"$stamps markStatus(…, Failed) sites")
  }

  test("no reliable checkpoint, checkpoint cadence or early stop in src/main") {
    Seq("setCheckpointDir", ".checkpoint(", "checkpointEvery", "tolL1")
      .foreach(t => assert(mentioning(t).isEmpty, s"$t in ${mentioning(t)}"))
  }
}
