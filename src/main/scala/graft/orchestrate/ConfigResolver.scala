package graft.orchestrate

import java.io.StringReader
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.jdk.CollectionConverters._

import graft.model.MigrationConfig

/** Config resolution with precedence CLI > env > file > default.
  *
  * The reference documents CLI > env > file (reference:
  * clickhouse_migrator/config.py:107-130) but ships two bugs: the YAML
  * file is loaded at config.py:110 and then never consulted in the merge,
  * and `or`-based merging lets falsy CLI values (port 0, empty password)
  * silently fall through to env defaults (SURVEY.md A45 quirks). Here the
  * documented semantics are implemented rather than the buggy ones: the
  * file layer is a real precedence tier, and the chain is explicit
  * `Option` precedence, so empty strings and zeros supplied on the CLI
  * are respected.
  *
  * File formats: `.yaml`/`.yml` files parse with a dependency-free YAML
  * subset matching the reference's config shape (two-level sections with
  * scalar leaves, reference: clickhouse_migrator/config.py:78 and the
  * section structure at config.py:83-105); anything else parses as
  * java.util.Properties `key=value` with the same flat keys as the CLI
  * flags.
  */
object ConfigResolver {

  val EnvPrefix = "GRAFT_"

  /** Reference-YAML spellings → flat CLI keys, so a config file written
    * for the reference tool drops in unchanged.
    */
  private val YamlAliases = Map(
    "migration.insert_interval" -> "insert-interval",
    "migration.resume" -> "resume",
    "migration.checkpoint" -> "checkpoint",
    "migration.lock_dir" -> "lock-dir")

  /** Load a config file; format chosen by extension (see class doc).
    * Missing path → error; no file configured → empty layer (handled by
    * [[resolve]]).
    */
  def loadConfigFile(path: String): Map[String, String] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    val lower = path.toLowerCase
    if (lower.endsWith(".yaml") || lower.endsWith(".yml")) parseFlatYaml(text)
    else {
      val props = new Properties()
      props.load(new StringReader(text))
      props.asScala.toMap
    }
  }

  /** Dependency-free parser for the YAML subset the reference actually
    * uses: top-level `section:` headers, 2-space-indented scalar
    * `key: value` leaves (flattened to `section.key`), full-line and
    * trailing `#` comments, single/double-quoted values. Flattened
    * reference keys rename via [[YamlAliases]]; unknown keys pass
    * through (and are ignored by [[resolve]]'s lookups), so extra
    * reference sections like `clickhouse:` are harmless.
    */
  def parseFlatYaml(text: String): Map[String, String] = {
    val line = """^(\s*)([A-Za-z0-9_-]+):\s*(.*)$""".r
    var section = ""
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (raw <- text.linesIterator if raw.trim.nonEmpty && !raw.trim.startsWith("#"))
      raw match {
        case line(indent, key, rest) =>
          val value = rest.trim match {
            case v if v.startsWith("#") => "" // pure trailing comment
            case v if v.startsWith("\"") =>
              val close = v.indexOf('"', 1)
              if (close < 0) throw new IllegalArgumentException(
                s"unterminated quote in YAML line: $raw")
              v.substring(1, close)
            case v if v.startsWith("'") =>
              val close = v.indexOf('\'', 1)
              if (close < 0) throw new IllegalArgumentException(
                s"unterminated quote in YAML line: $raw")
              v.substring(1, close)
            case v => v.split(" #", 2)(0).split("\t#", 2)(0).trim
          }
          // Only a TOP-LEVEL empty-valued key opens a section (the
          // reference shape nests exactly one level); a nested empty
          // value is a real (empty) value — treating it as a section
          // would silently mis-flatten every later key in the section.
          if (value.isEmpty && indent.isEmpty) section = key
          else {
            val flat = if (indent.isEmpty) key else s"$section.$key"
            out += (YamlAliases.getOrElse(flat, flat) -> value)
          }
        case other =>
          throw new IllegalArgumentException(s"unsupported YAML line: $other")
      }
    out.toMap
  }

  def resolve(
      args: Map[String, String],
      env: Map[String, String] = sys.env): MigrationConfig = {
    // The file layer's own location is CLI > env resolvable (a file can't
    // name itself): --config on the CLI or GRAFT_CONFIG in the env.
    val fileVals: Map[String, String] =
      args.get("config").orElse(env.get(EnvPrefix + "CONFIG"))
        .map(loadConfigFile)
        .getOrElse(Map.empty)

    def pick(key: String, default: String): String =
      args.get(key)
        .orElse(env.get(EnvPrefix + key.toUpperCase.replace('-', '_')))
        .orElse(fileVals.get(key))
        .getOrElse(default)

    MigrationConfig(
      mode = pick("mode", "single"),
      db = pick("db", "default"),
      table = pick("table", ""),
      sourcePath = pick("source", ""),
      destPath = pick("dest", ""),
      insertIntervalSec = pick("insert-interval", "0").toDouble,
      resume = pick("resume", "true").toBoolean,
      checkpointPath = pick("checkpoint", "migration_progress.json"),
      lockDir = pick("lock-dir", "locks"))
  }

  /** `--key value` pairs → map (unknown keys rejected). */
  def parseArgs(argv: Array[String]): Map[String, String] = {
    val known = Set("mode", "db", "table", "source", "dest",
      "insert-interval", "resume", "checkpoint", "lock-dir", "report-dir",
      "partition-expr", "config", "drop-orphans", "min-completeness",
      "baseline", "drift-tolerance", "psi-cols", "psi-threshold",
      "age-hours", "apply",
      "jaccard", "mixture", "stopwords", "canonical")
    argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") =>
        val key = k.stripPrefix("--")
        if (!known.contains(key))
          throw new IllegalArgumentException(s"unknown option --$key")
        key -> v
      case other =>
        throw new IllegalArgumentException(
          s"expected --key value pairs, got: ${other.mkString(" ")}")
    }.toMap
  }
}
