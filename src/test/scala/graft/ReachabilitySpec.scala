package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Keeps src/main to code an entry point reaches. Source text is read
  * with comments and string-literal text stripped (interpolated
  * expressions are kept), so a name mentioned only in a scaladoc or an
  * error message does not count as a use.
  *
  *  - Roots: every src/main file with a `def main`, and every file under
  *    perfbench/src (the benchmark is a caller of the library).
  *  - File check: a src/main file is reached when a reached file (or
  *    perfbench) names one of its top-level objects, classes or traits,
  *    followed transitively. An unreached file fails.
  *  - Def check: in a reached file, a non-private, non-`override` `def`
  *    fails when its name appears nowhere in reached main code or
  *    perfbench except at `def` sites of that name.
  *  - Allowlist: defs kept for a stated reason although only specs call
  *    them. An entry that no longer needs the allowlist fails too.
  */
class ReachabilitySpec extends AnyFunSuite {

  private val allowlist: Map[String, String] = Map(
    "EpochDir.pinSnapshot" ->
      "multi-epoch pin kept for migration publish on epoch stores",
    "CatalogOps.pinSnapshot" ->
      "catalog twin of the epoch pin, kept with the epoch views",
    "CatalogOps.tableAtEpoch" ->
      "epoch-view snapshot read, kept with the epoch views",
    "CatalogOps.dropEpochIndex" ->
      "epoch-view teardown, kept with the epoch views",
    "PartitionId.parse" ->
      "inverse of render: the checkpoint's partition strings read back",
    "TableLock.isLocked" ->
      "lock probe the table-lock specs assert exclusion with",
    "Sources.clickhouseJdbc" ->
      "JDBC reader for the reference's source system; no CLI mode reads JDBC",
    "SparkEntry.entry" ->
      "SparkEntry's flagship query, part of its entry contract (rows > 0)",
    "Dedup.appendToBandIndex" ->
      "band-index growth, kept with its soak and rebuild-equivalence specs",
    "Dedup.appendToShingleIndex" ->
      "shingle-index growth, kept with the band-index growth path",
    "Dedup.compactBandIndex" ->
      "band-index compaction, kept with the band-index growth path",
    "Similarity.appendToIvfPqIndex" ->
      "IVFPQ growth, kept with the IVF growth CrossProcessSoak runs",
    "Similarity.compactIvfPqIndex" ->
      "IVFPQ compaction, kept with the IVF compaction CrossProcessSoak runs",
    "Dedup.semanticDedupAgainstIndex" ->
      "incremental semantic dedup over a persisted (growable) IVF index",
    "Dedup.semanticDedupAuto" ->
      "semanticDedup at chooseNlist cells; d_semantic_auto inlines the same",
    "CatalogOps.createBackupTable" ->
      "catalog-table twin of the reference's DDL lifecycle (A5-A14)",
    "CatalogOps.insertPartition" ->
      "catalog-table twin of CopyService.copyPartition",
    "CatalogOps.listPartitions" ->
      "catalog-table twin of Partitions.enumeratePartitions",
    "CatalogOps.dropPartition" ->
      "catalog-table twin of the reference's DROP PARTITION (A14)",
    "CatalogOps.renameTable" ->
      "catalog-table twin of the reference's rename swap",
    "CatalogOps.listDataTables" ->
      "catalog-table enumeration excluding views (A9)",
    "CatalogOps.schemaOf" ->
      "structural schema introspection, the reference's SHOW CREATE",
    "Partitions.parsePartitionKey" ->
      "the reference's partition-key normalizer; the CLI takes split keys",
    "DataQuality.completenessViolations" ->
      "the dq completeness gate over a profile; no main gates on dq yet",
    "Multimodal.resizeImages" ->
      "batched image resize before vision features; no query resizes yet",
    "Salting.saltedCount" ->
      "two-phase salted count for hot-key aggregation",
    "Salting.saltedSum" ->
      "two-phase salted sum for hot-key aggregation")

  private val mainRoot = new File("src/main/scala")
  private val benchRoot = new File("perfbench/src")

  private def scalaFiles(root: File): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    walk(root)
  }

  /** `src` without comments and with each string literal reduced to the
    * `${…}` / `$name` interpolations inside it.
    */
  private def strip(src: String): String = {
    val out = new StringBuilder
    val interp = "\\$\\{[^}]*\\}|\\$[A-Za-z_][A-Za-z0-9_]*".r
    def literal(text: String): Unit =
      out.append(interp.findAllIn(text).mkString(" ", " ", " "))
    var i = 0
    val n = src.length
    while (i < n) {
      if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        out.append(' ')
      } else if (src.startsWith("\"\"\"", i)) {
        val j0 = src.indexOf("\"\"\"", i + 3)
        var j = if (j0 < 0) n else j0 + 3
        while (j < n && src.charAt(j) == '"') j += 1
        literal(src.substring(i, j))
        i = j
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        literal(src.substring(i, math.min(j + 1, n)))
        i = j + 1
      } else if (src.charAt(i) == '\'' && i + 2 < n &&
          (src.charAt(i + 2) == '\'' ||
            (src.charAt(i + 1) == '\\' && i + 3 < n &&
              src.charAt(i + 3) == '\''))) {
        i += (if (src.charAt(i + 1) == '\\') 4 else 3)
      } else {
        out.append(src.charAt(i))
        i += 1
      }
    }
    out.toString
  }

  private lazy val mainSrc: Map[File, String] = scalaFiles(mainRoot)
    .map(f => f -> strip(java.nio.file.Files.readString(f.toPath))).toMap
  private lazy val bench: Seq[String] = scalaFiles(benchRoot)
    .map(f => strip(java.nio.file.Files.readString(f.toPath)))

  private def rel(f: File): String =
    mainRoot.toPath.relativize(f.toPath).toString.replace('\\', '/')

  private val TopLevel = ("(?m)^(?:(?:final|sealed|case|abstract|implicit|" +
    "private(?:\\[\\w+\\])?)\\s+)*(?:object|class|trait)\\s+" +
    "([A-Za-z_][A-Za-z0-9_]*)").r
  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private def words(text: String): Set[String] = Ident.findAllIn(text).toSet

  /** Files reached from the roots, following top-level type names. */
  private lazy val reached: Set[File] = {
    val declared = mainSrc.map { case (f, t) =>
      f -> TopLevel.findAllMatchIn(t).map(_.group(1)).toSet }
    val roots = mainSrc.collect {
      case (f, t) if "\\bdef\\s+main\\s*\\(".r.findFirstIn(t).isDefined => f
    }.toSet
    var seen = roots
    var frontier = roots.toSeq.map(mainSrc) ++ bench
    while (frontier.nonEmpty) {
      val named = frontier.flatMap(words).toSet
      val next = declared.collect {
        case (f, names) if !seen(f) && names.exists(named) => f
      }.toSet
      seen ++= next
      frontier = next.toSeq.map(mainSrc)
    }
    seen
  }

  private val DefSite = ("(?m)^([ \\t]*(?:[a-z]+(?:\\[\\w+\\])?\\s+|@\\w+\\s+)*)" +
    "def\\s+([A-Za-z_][A-Za-z0-9_]*)").r

  /** `Owner.def` of every public def in reached main code whose name is
    * used nowhere in reached main code or perfbench; `apply`/`unapply`/
    * `update` are called by syntax, `main` is a root.
    */
  private lazy val unused: Set[String] = {
    val corpus = (reached.toSeq.map(mainSrc) ++ bench).mkString("\n")
    val uses = Ident.findAllIn(corpus).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val defSites = DefSite.findAllMatchIn(corpus).map(_.group(2)).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    reached.toSeq.flatMap { f =>
      val t = mainSrc(f)
      val owners = TopLevel.findAllMatchIn(t).map(m => m.start -> m.group(1)).toSeq
      DefSite.findAllMatchIn(t).collect {
        case m if !m.group(1).contains("private") &&
            !m.group(1).contains("override") &&
            !Set("main", "apply", "unapply", "update")(m.group(2)) &&
            uses.getOrElse(m.group(2), 0) <= defSites.getOrElse(m.group(2), 0) =>
          val owner = owners.takeWhile(_._1 < m.start).lastOption
            .map(_._2).getOrElse(rel(f))
          s"$owner.${m.group(2)}"
      }
    }.toSet
  }

  test("comment and string stripping keeps code and interpolations only") {
    val src = "val a = f(x) // g(y)\n/* h /* nested */ i */ val b = \"k(z)\"" +
      " + s\"${m(w)} and $v\" + '\"' + \"\"\"q \"r\" t\"\"\""
    val w = words(strip(src))
    assert(Set("a", "f", "x", "b", "m", "w", "v").subsetOf(w), w)
    assert(Set("g", "y", "h", "i", "nested", "k", "z", "q", "r", "t")
      .intersect(w).isEmpty, w)
  }

  test("every src/main file is reached from an entry point") {
    val orphans = mainSrc.keySet.diff(reached).toSeq.map(rel).sorted
    assert(orphans.isEmpty, s"files no main or perfbench reaches: $orphans")
  }

  test("every public def in reached main code has a caller outside specs") {
    val flagged = unused.diff(allowlist.keySet).toSeq.sorted
    assert(flagged.isEmpty,
      s"defs only specs (or nothing) call — delete them, give them an " +
        s"entry point, or allowlist them with a reason: $flagged")
  }

  test("the allowlist holds only defs the gate flags, each with a reason") {
    val stale = allowlist.keySet.diff(unused).toSeq.sorted
    assert(stale.isEmpty, s"allowlisted defs that no longer need it: $stale")
    assert(allowlist.values.forall(_.trim.nonEmpty))
  }
}
