package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps each piece of scaffolding at one implementation: sessions are
  * built only by [[GraftSession]], the query layer and the source
  * layer cache standing artifacts only through
  * [[graft.sources.ArtifactRegistry]], and catalog metadata is read
  * only through [[graft.sources.CatalogOps]] — with no epoch store,
  * index lock, growth or compaction left (standing indexes are written
  * once, by plain overwrite), scratch directories and shutdown hooks
  * only from [[graft.sources.Scratch]], no reliable-checkpoint or
  * early-stop mode in
  * the iterative loops, one set-lookup wave filter and one failure exit
  * in the migrator — and the vector and dedup operators read one vector
  * schema and own their fixed formats.
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

  test("no epoch publish, index lock, band/shingle growth or compaction in src/main") {
    Seq("EpochDir", "IndexLock", "publishEpoch", "liveEpochTable",
        "appendTo", "semanticDedupAgainstIndex", "compactCellIndex",
        "compactBucketedIndex", "atEpoch", "_batch")
      .foreach(t => assert(mentioning(t).isEmpty, s"$t in ${mentioning(t)}"))
  }

  test("createTempDirectory and addShutdownHook appear only in sources/Scratch.scala") {
    Seq("createTempDirectory", "addShutdownHook").foreach { t =>
      assert(mentioning(t).forall(_ == "graft/sources/Scratch.scala"),
        s"$t in ${mentioning(t)}")
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

  private val vectorOps =
    Seq("graft/operators/Similarity.scala", "graft/operators/Dedup.scala")

  private def read(path: String): String =
    java.nio.file.Files.readString(new java.io.File(root, path).toPath)

  /** (def name, parameter) for every defaulted parameter in `src`. */
  private def defaulted(src: String): Seq[(String, String)] = {
    val defAt = "def\\s+(\\w+)".r.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    "(\\w+)\\s*:\\s*[\\w\\[\\]]+\\s*=(?![=>])".r.findAllMatchIn(src).toSeq.flatMap { m =>
      defAt.takeWhile(_._1 < m.start).lastOption.map(_._2 -> m.group(1))
    }
  }

  test("vector operators read embeddings(vec_id, embedding): no idCol/vecCol") {
    assert(!read("graft/operators/Similarity.scala").contains("idCol"))
    vectorOps.foreach(f => assert(!read(f).contains("vecCol"), s"vecCol in $f"))
    // Dedup's text operators keep the document schema (idCol, textCol)
    val dedup = read("graft/operators/Dedup.scala")
    assert("idCol: String(?!,\\s*textCol)".r.findAllIn(dedup).isEmpty,
      "an idCol without its textCol in Dedup.scala")
  }

  test("no PQ, MinHash or signature geometry default in the vector operators") {
    val fixed = Set("mm", "dd", "rowsPerBand", "sigBits", "dim", "seed", "scale", "c")
    vectorOps.foreach { f =>
      val hits = defaulted(read(f)).filter { case (d, p) =>
        fixed(p) || (p == "bands" && d != "simhashBandedPairs") || p == "buckets"
      }
      assert(hits.isEmpty, s"fixed-format defaults in $f: $hits")
    }
  }

  test("PQ geometry and the wide-plane seed are defined only in Similarity.scala") {
    val definers = sources.filter(f =>
      "val\\s+(PqM|PqD|WidePlaneSeed)\\b".r
        .findFirstIn(java.nio.file.Files.readString(f.toPath)).isDefined)
      .map(rel)
    assert(definers == Seq("graft/operators/Similarity.scala"), definers)
  }

  test("no reliable checkpoint, checkpoint cadence or early stop in src/main") {
    Seq("setCheckpointDir", ".checkpoint(", "checkpointEvery", "tolL1")
      .foreach(t => assert(mentioning(t).isEmpty, s"$t in ${mentioning(t)}"))
  }
}
