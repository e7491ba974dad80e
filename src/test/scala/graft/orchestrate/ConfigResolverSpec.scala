package graft.orchestrate

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Precedence CLI > env > file > default — the reference's *documented*
  * semantics (clickhouse_migrator/config.py:107-108), with its dead-YAML
  * bug (file loaded at config.py:110, never consulted) fixed rather than
  * replicated (SURVEY.md A45).
  */
class ConfigResolverSpec extends AnyFunSuite {

  private def writeFile(lines: String*): String = {
    val p = Files.createTempFile("graft", ".conf")
    Files.write(p, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("file-sourced values are honored when CLI and env are silent") {
    val conf = writeFile(
      "db = filedb",
      "table = filetable",
      "insert-interval = 2.5")
    val cfg = ConfigResolver.resolve(Map("config" -> conf), env = Map.empty)
    assert(cfg.db == "filedb")
    assert(cfg.table == "filetable")
    assert(cfg.insertIntervalSec == 2.5)
    assert(cfg.mode == "single") // untouched key falls to default
  }

  test("--keys is rejected on the CLI: no setting reads partition keys") {
    val ex = intercept[IllegalArgumentException] {
      ConfigResolver.parseArgs(Array("--table", "t", "--keys", "a,b"))
    }
    assert(ex.getMessage == "unknown option --keys")
  }

  test("precedence: CLI beats env beats file beats default") {
    val conf = writeFile("db = filedb", "table = filetable", "mode = full")
    val cfg = ConfigResolver.resolve(
      args = Map("config" -> conf, "db" -> "clidb"),
      env = Map("GRAFT_DB" -> "envdb", "GRAFT_TABLE" -> "envtable"))
    assert(cfg.db == "clidb")        // CLI wins over env and file
    assert(cfg.table == "envtable")  // env wins over file
    assert(cfg.mode == "full")       // file wins over default
    assert(cfg.lockDir == "locks")   // default when all layers silent
  }

  test("config file path itself resolves CLI > env") {
    val cliConf = writeFile("db = fromclifile")
    val envConf = writeFile("db = fromenvfile")
    val viaEnv = ConfigResolver.resolve(Map.empty,
      env = Map("GRAFT_CONFIG" -> envConf))
    assert(viaEnv.db == "fromenvfile")
    val viaCli = ConfigResolver.resolve(Map("config" -> cliConf),
      env = Map("GRAFT_CONFIG" -> envConf))
    assert(viaCli.db == "fromclifile")
  }

  test("falsy CLI values are respected, not dropped (reference or-merge bug)") {
    val conf = writeFile("insert-interval = 9")
    val cfg = ConfigResolver.resolve(
      Map("config" -> conf, "insert-interval" -> "0", "table" -> ""),
      env = Map("GRAFT_TABLE" -> "envtable"))
    assert(cfg.insertIntervalSec == 0.0) // CLI zero beats file 9
    assert(cfg.table == "")              // CLI empty string beats env
  }

  test("reference-style YAML config file loads as a precedence tier") {
    // Shape mirrors the reference's sections (config.py:83-105): nested
    // scalar leaves, comments, quotes; unknown sections are ignored.
    val p = Files.createTempFile("graft", ".yaml")
    Files.write(p,
      """# migration config
        |mode: full
        |db: "yamldb"
        |clickhouse:
        |  host: 127.0.0.1   # ignored by the Spark engine
        |  port: 8123
        |migration:
        |  insert_interval: 2.5
        |  resume: 'false'
        |  lock_dir: /tmp/locks
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val cfg = ConfigResolver.resolve(Map("config" -> p.toString), env = Map.empty)
    assert(cfg.mode == "full")
    assert(cfg.db == "yamldb")
    assert(cfg.insertIntervalSec == 2.5)
    assert(!cfg.resume)
    assert(cfg.lockDir == "/tmp/locks")
    assert(cfg.table == "") // untouched key falls to default
  }

  test("YAML tier still loses to env and CLI") {
    val p = Files.createTempFile("graft", ".yml")
    Files.write(p, "db: yamldb\nmigration:\n  resume: false\n"
      .getBytes(StandardCharsets.UTF_8))
    val cfg = ConfigResolver.resolve(
      Map("config" -> p.toString, "resume" -> "true"),
      env = Map("GRAFT_DB" -> "envdb"))
    assert(cfg.db == "envdb")
    assert(cfg.resume)
  }

  test("YAML edge cases: empty nested value, commented section header, bad quote") {
    // empty nested value is a VALUE (respected as empty), not a section
    // opener — later keys in the section must still flatten correctly
    val p1 = Files.createTempFile("graft", ".yaml")
    Files.write(p1,
      """migration: # timing knobs
        |  checkpoint:
        |  insert_interval: 2.5
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val cfg = ConfigResolver.resolve(Map("config" -> p1.toString), env = Map.empty)
    assert(cfg.insertIntervalSec == 2.5) // survived the empty sibling
    assert(cfg.checkpointPath == "")     // empty value respected, not dropped
    // unterminated quote is a clean parse error, not an index crash
    val p2 = Files.createTempFile("graft", ".yaml")
    Files.write(p2, "db: \"proddb\n".getBytes(StandardCharsets.UTF_8))
    val e = intercept[IllegalArgumentException] {
      ConfigResolver.resolve(Map("config" -> p2.toString), env = Map.empty)
    }
    assert(e.getMessage.contains("unterminated quote"))
  }

  test("--config is an accepted CLI flag") {
    val m = ConfigResolver.parseArgs(Array("--config", "/tmp/x.conf"))
    assert(m("config") == "/tmp/x.conf")
  }
}
