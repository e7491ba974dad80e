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
  *    perfbench except at `def` sites of that name. When more than one
  *    top-level owner (object, class or trait) defines the name, a use
  *    counts for an owner only if it is qualified with the owner's name
  *    (`Owner.name`), sits in the owner's own file, or sits in a file
  *    that imports the owner's members — so a dead def cannot hide
  *    behind a live one of the same name. A class or trait member is
  *    called on instances whose type the text does not show, so for
  *    those owners any `.name` selection counts as well.
  *  - Allowlist: defs kept for a stated reason although only specs call
  *    them. An entry that no longer needs the allowlist fails too.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec.Def

  private val allowlist: Map[String, String] = Map(
    "TableLock.isLocked" ->
      "lock probe the table-lock specs assert exclusion with",
    "Sources.clickhouseJdbc" ->
      "JDBC reader for the reference's source system; no CLI mode reads JDBC",
    "SparkEntry.entry" ->
      "SparkEntry's flagship query, part of its entry contract (rows > 0)")

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
    "private(?:\\[\\w+\\])?)\\s+)*(object|class|trait)\\s+" +
    "([A-Za-z_][A-Za-z0-9_]*)").r
  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private def words(text: String): Set[String] = Ident.findAllIn(text).toSet

  /** Files reached from the roots, following top-level type names. */
  private lazy val reached: Set[File] = {
    val declared = mainSrc.map { case (f, t) =>
      f -> TopLevel.findAllMatchIn(t).map(_.group(2)).toSet }
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

  private lazy val defs: Seq[Def] = reached.toSeq.flatMap { f =>
    val t = mainSrc(f)
    val owners = TopLevel.findAllMatchIn(t).toSeq
    DefSite.findAllMatchIn(t).map { m =>
      val owner = owners.takeWhile(_.start < m.start).lastOption
      Def(owner.map(_.group(2)).getOrElse(rel(f)), m.group(2), t,
        public = !m.group(1).contains("private") &&
          !m.group(1).contains("override"),
        onInstances = owner.exists(_.group(1) != "object"))
    }
  }

  /** Uses of `name` in `text` that are not `def` sites of it. */
  private def usesIn(text: String, name: String): Int =
    Ident.findAllIn(text).count(_ == name) -
      DefSite.findAllMatchIn(text).count(_.group(2) == name)

  /** Uses of `d.name` that count for `d.owner`: qualified with the owner
    * (any `.name` selection for a class or trait owner), in the owner's
    * own file, or in a file importing the owner's members.
    */
  private def ownerUses(d: Def, texts: Seq[String]): Int = {
    val o = java.util.regex.Pattern.quote(d.owner)
    val n = java.util.regex.Pattern.quote(d.name)
    val qualified = s"\\b$o\\s*\\.\\s*$n\\b".r
    val imports = s"\\bimport\\s+(?:[\\w.]*\\.)?$o\\.(?:_|\\{|$n\\b)".r
    val selected = s"\\.\\s*$n\\b".r
    texts.map { t =>
      if ((t eq d.fileText) || imports.findFirstIn(t).isDefined)
        usesIn(t, d.name)
      else (if (d.onInstances) selected else qualified).findAllIn(t).size
    }.sum
  }

  /** `Owner.def` of every public def in reached main code with no use in
    * reached main code or perfbench (per owner when several owners
    * define the name); `apply`/`unapply`/`update` are called by syntax,
    * `main` is a root.
    */
  private lazy val unused: Set[String] = {
    val texts = reached.toSeq.map(mainSrc) ++ bench
    val corpus = texts.mkString("\n")
    val owners = defs.groupBy(_.name).view.mapValues(_.map(_.owner).toSet).toMap
    defs.collect {
      case d if d.public &&
          !Set("main", "apply", "unapply", "update")(d.name) &&
          (if (owners(d.name).size > 1) ownerUses(d, texts) <= 0
           else usesIn(corpus, d.name) <= 0) =>
        s"${d.owner}.${d.name}"
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

object ReachabilitySpec {

  /** A `def` site in reached main code: its top-level owner, the owner
    * file's stripped text, whether the def is public, and whether its
    * owner is a class or trait (members called on instances).
    */
  private final case class Def(owner: String, name: String, fileText: String,
      public: Boolean, onInstances: Boolean)
}
