package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkFunSuite

/** Age-based vacuum of leaked scratch: the naming contract is the
  * safety boundary — only `graft_<tag>_<16hex>_<12hex>` entries are
  * candidates, and the live-nonce / epoch-index guards keep anything a
  * running process or a standing index depends on untouched. Dry-run
  * by default, deletion opt-in (the CLI `--apply true` stance).
  */
class ScratchVacuumSpec extends SparkFunSuite {

  private val Hash = "0123456789abcdef"
  private val DeadNonce = "deadbeef0000"

  private def mk(root: String, name: String,
      ageHours: Double = 0.0): java.io.File = {
    val f = new java.io.File(root, name)
    f.mkdirs()
    Files.writeString(Paths.get(f.toString, "part-00000.parquet"), "x")
    val ts = System.currentTimeMillis() - (ageHours * 3600e3).toLong
    f.listFiles().foreach(_.setLastModified(ts))
    assert(f.setLastModified(ts))
    f
  }

  test("vacuum: naming contract bounds the sweep; age gates; dry-run never deletes") {
    val root = tmpDir("vac_root")
    val old = mk(root, s"graft_qrec_edges_${Hash}_$DeadNonce", ageHours = 48)
    val young = mk(root, s"graft_stage_${Hash}_$DeadNonce", ageHours = 1)
    val user = mk(root, "my_precious_data", ageHours = 500)
    val index = mk(root, "band_index_live", ageHours = 500)

    // dry run: the old entry is reported, nothing is deleted
    val dry = Scratch.vacuum(root, olderThanHours = 24, apply = false)
    assert(dry.map(e => (new java.io.File(e.path).getName, e.action)).toSet
      == Set(old.getName -> "would_delete", young.getName -> "kept_young"),
      dry.toString)
    assert(old.exists() && young.exists() && user.exists() && index.exists())

    // apply: ONLY the expired contract-named entry goes
    val applied = Scratch.vacuum(root, olderThanHours = 24, apply = true)
    assert(applied.map(e =>
      (new java.io.File(e.path).getName, e.action)).toSet
      == Set(old.getName -> "deleted", young.getName -> "kept_young"))
    assert(!old.exists(), "expired scratch must be deleted")
    assert(young.exists() && user.exists() && index.exists(),
      "young scratch and non-matching names must survive")
  }

  test("vacuum guards: own-nonce scratch and epoch-shaped entries are skipped") {
    val root = tmpDir("vac_guard")
    // this JVM's own scratch — live for this process, never swept even
    // when its mtime looks ancient
    val own = mk(root, s"graft_mine_${Hash}_${Scratch.nonce}", ageHours = 999)
    // a committed epoch layout misplaced under a scratch-shaped name —
    // a standing index someone parked in tmp; skip loudly, never sweep
    val epochy = new java.io.File(root, s"graft_idx_${Hash}_$DeadNonce")
    val e0 = new java.io.File(epochy, "e0")
    e0.mkdirs()
    Files.writeString(Paths.get(e0.toString, "_SUCCESS"), "")
    Files.writeString(Paths.get(e0.toString, "part-00000.parquet"), "x")
    val ts = System.currentTimeMillis() - (999 * 3600e3).toLong
    epochy.setLastModified(ts)

    val got = Scratch.vacuum(root, olderThanHours = 24, apply = true)
      .map(e => (new java.io.File(e.path).getName, e.action)).toMap
    assert(got(own.getName) == "skipped_live_nonce", got.toString)
    assert(got(epochy.getName) == "skipped_epoch_index", got.toString)
    assert(own.exists() && new java.io.File(e0, "_SUCCESS").exists())
  }

  test("vacuum ages by the DEEP newest mtime: a nested writer keeps its scratch alive (ADVICE r19)") {
    val root = tmpDir("vac_nested")
    // the Graph checkpoint layout: <entry>/<round dir>/<part files>.
    // POSIX dir mtime only changes on DIRECT-child create/delete, so a
    // writer landing files inside round subdirectories never refreshes
    // the top-level entry — an entry-mtime-only sweep would delete
    // another JVM's scratch mid-job.
    val live = new java.io.File(root, s"graft_ck_${Hash}_$DeadNonce")
    val round = new java.io.File(live, "r7")
    round.mkdirs()
    Files.writeString(Paths.get(round.toString, "part-00000"), "x")
    val old = System.currentTimeMillis() - (48 * 3600e3).toLong
    // entry AND round dir look ancient; only the grandchild FILE is
    // fresh — exactly what a long-running nested writer produces
    assert(live.setLastModified(old) && round.setLastModified(old))
    val got = Scratch.vacuum(root, olderThanHours = 24, apply = true)
    assert(got.map(_.action) == Seq("kept_young"), got.toString)
    assert(new java.io.File(round, "part-00000").exists())
  }

  test("vacuum reports delete_failed (never a false 'deleted') and the CLI exits 1") {
    val root = tmpDir("vac_fail")
    val stuck = mk(root, s"graft_stuck_${Hash}_$DeadNonce", ageHours = 48)
    val victim = new java.io.File(stuck, "part-00000.parquet")
    // chattr +i makes the child undeletable even for root; skip the
    // case (not fail it) where the filesystem lacks immutable support
    def chattr(flag: String): Boolean =
      new ProcessBuilder("chattr", flag, victim.toString)
        .start().waitFor() == 0
    assume(chattr("+i"), "chattr +i unsupported here")
    try {
      val got = Scratch.vacuum(root, olderThanHours = 24, apply = true)
      assert(got.map(_.action) == Seq("delete_failed"), got.toString)
      assert(victim.exists(), "the undeletable entry must survive")
      // the CLI contract: "exit 0 unless a delete itself failed"
      val reports = tmpDir("vac_fail_reports")
      val code = graft.MigrateCli.runVacuum(
        Map("report-dir" -> reports, "age-hours" -> "24",
          "apply" -> "true"),
        graft.model.MigrationConfig(mode = "vacuum", sourcePath = root))
      assert(code == 1, "a failed delete must exit nonzero")
      val report = new java.io.File(reports).listFiles()
        .filter(_.getName.startsWith("vacuum_report_")).maxBy(_.getName)
      assert(Files.readString(report.toPath).contains("delete_failed"))
    } finally {
      chattr("-i")
      ()
    }
  }

  test("vacuumCatalog: a group whose every stat THREW is skipped_stat_failed, not expired (ADVICE r19)") {
    val s = spark
    import s.implicits._
    val db = "graft_scratch_statfail"
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    try {
      val dead = s"graft_tmp_${Hash}_$DeadNonce"
      Seq(1L).toDF("k").write.mode("overwrite").saveAsTable(s"$db.$dead")
      // every member's stat RAISES (transient S3 fault, permission
      // error): zero age samples must degrade to a loud skip, never to
      // "expired" — the group could be another JVM's LIVE scratch
      val got = Scratch.vacuumCatalog(s, db, olderThanHours = 0,
        apply = true,
        statMtime = (_, _) => throw new java.io.IOException("s3 hiccup"))
      assert(got.map(e => (e.path.split("\\.").last, e.action)) ==
        Seq(dead -> "skipped_stat_failed"), got.toString)
      assert(s.catalog.tableExists(s"$db.$dead"),
        "a stat-failed group must survive the sweep")
      // location genuinely ABSENT (stat returned None, nothing threw):
      // pure debris, still treated as expired
      val gone = Scratch.vacuumCatalog(s, db, olderThanHours = 0,
        apply = true, statMtime = (_, _) => None)
      assert(gone.map(e => (e.path.split("\\.").last, e.action)) ==
        Seq(dead -> "deleted"), gone.toString)
      assert(!s.catalog.tableExists(s"$db.$dead"))
    } finally s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("purge and the shutdown-hook path delete through the Hadoop FS (file:-scheme scratch root)") {
    // the r19 verdict's finding: purge/rm went through java.io.File,
    // which silently no-ops on any non-local (or scheme-spelled) root.
    // A file:-scheme graft.scratch.dir proves the routing: the old
    // code's java.io.File("file:/…") named a nonexistent relative path
    // and left the scratch behind.
    val base = tmpDir("scratch_fs_root")
    val prev = sys.props.get("graft.scratch.dir")
    sys.props("graft.scratch.dir") = s"file:$base"
    try {
      val d = Scratch.dir("fs_route", "k1")
      assert(d.startsWith("file:"), d)
      val sub = new java.io.File(base,
        new org.apache.hadoop.fs.Path(d).getName)
      new java.io.File(sub, "r1").mkdirs()
      Files.writeString(Paths.get(sub.toString, "r1", "part-0"), "x")
      Scratch.purge(d)
      assert(!sub.exists(), "purge must resolve file:-scheme paths " +
        "through the Hadoop filesystem")
    } finally {
      prev.fold { sys.props.remove("graft.scratch.dir"); () } { v =>
        sys.props("graft.scratch.dir") = v; ()
      }
    }
  }

  test("vacuumCatalog: dead-nonce tables and epoch groups dropped; own-nonce and real names kept") {
    val s = spark
    import s.implicits._
    val db = "graft_scratch_vactest"
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    try {
      // a crashed JVM's plain scratch table…
      val dead = s"graft_tmp_${Hash}_$DeadNonce"
      Seq(1L).toDF("k").write.mode("overwrite").saveAsTable(s"$db.$dead")
      // …and its scratch INDEX (epoch table + view — the layout older
      // builds published d_incremental_indexed in); the group must
      // drop TOGETHER
      val deadIdx = s"graft_idx_${Hash}_$DeadNonce"
      Seq(2L).toDF("k").write.mode("overwrite")
        .saveAsTable(s"$db.${deadIdx}__e0")
      s.sql(s"CREATE VIEW $db.$deadIdx AS SELECT * FROM $db.${deadIdx}__e0")
      // this JVM's own scratch: live, never swept
      val own = s"graft_live_${Hash}_${Scratch.nonce}"
      Seq(3L).toDF("k").write.mode("overwrite").saveAsTable(s"$db.$own")
      // a non-contract name: not even listed
      Seq(4L).toDF("k").write.mode("overwrite").saveAsTable(s"$db.real_table")

      // young threshold: candidates surface as kept_young, nothing drops
      val young = Scratch.vacuumCatalog(s, db, olderThanHours = 9999,
        apply = true)
      assert(young.map(e => (e.path.split("\\.").last, e.action)).toSet ==
        Set(dead -> "kept_young", deadIdx -> "kept_young",
          own -> "skipped_live_nonce"), young.toString)
      assert(s.catalog.tableExists(s"$db.$dead"))

      // expired + apply: dead groups drop, own/real survive
      val got = Scratch.vacuumCatalog(s, db, olderThanHours = 0,
        apply = true)
      assert(got.map(e => (e.path.split("\\.").last, e.action)).toSet ==
        Set(dead -> "deleted", deadIdx -> "deleted",
          own -> "skipped_live_nonce"), got.toString)
      assert(!s.catalog.tableExists(s"$db.$dead"))
      assert(!s.catalog.tableExists(s"$db.$deadIdx") &&
        !s.catalog.tableExists(s"$db.${deadIdx}__e0"),
        "the epoch group must drop together, view and tables")
      assert(s.catalog.tableExists(s"$db.$own") &&
        s.catalog.tableExists(s"$db.real_table"))
      // a missing database is an empty sweep, not an error
      assert(Scratch.vacuumCatalog(s, "graft_no_such_db", 0, apply = true)
        .isEmpty)
    } finally s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("vacuum via the CLI body: report written, exit 0, strict --apply parse") {
    val root = tmpDir("vac_cli")
    val old = mk(root, s"graft_bench_${Hash}_$DeadNonce", ageHours = 48)
    val reports = tmpDir("vac_reports")
    val cfg = graft.model.MigrationConfig(
      mode = "vacuum", sourcePath = root)
    assert(graft.MigrateCli.runVacuum(
      Map("report-dir" -> reports, "age-hours" -> "24"), cfg) == 0)
    assert(old.exists(), "dry-run must not delete")
    val report = new java.io.File(reports).listFiles()
      .filter(_.getName.startsWith("vacuum_report_")).maxBy(_.getName)
    val txt = Files.readString(report.toPath)
    assert(txt.contains("would_delete") && txt.contains(old.getName))
    assert(graft.MigrateCli.runVacuum(
      Map("report-dir" -> reports, "age-hours" -> "24",
        "apply" -> "true"), cfg) == 0)
    assert(!old.exists(), "--apply true must delete")
    intercept[IllegalArgumentException] {
      graft.MigrateCli.runVacuum(
        Map("report-dir" -> reports, "apply" -> "yes"), cfg)
    }
    // catalog: roots route through the lazy session factory
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_scratch_clivac")
    try {
      assert(graft.MigrateCli.runVacuum(
        Map("report-dir" -> reports),
        graft.model.MigrationConfig(mode = "vacuum",
          sourcePath = "catalog:graft_scratch_clivac"),
        () => s) == 0)
    } finally s.sql("DROP DATABASE IF EXISTS graft_scratch_clivac CASCADE")
  }
}
