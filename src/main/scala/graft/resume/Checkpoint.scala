package graft.resume

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.model.{PartitionId, TableStatus}

/** Per-table progress within a checkpoint
  * (reference: clickhouse_migrator/services/resume.py:41-50 builds the same
  * nested structure `{db: {table: {completed_partitions, status}}}`).
  */
final case class TableProgress(
    completedPartitions: Seq[String],
    status: TableStatus) {
  def completedSet: Set[PartitionId] =
    completedPartitions.map(PartitionId.parse).toSet
}

/** Write-through JSON checkpoint with atomic replace.
  *
  * The reference writes `migration_progress.json` after every partition
  * (reference: services/resume.py:52-57) but writes in place — a crash
  * mid-write corrupts the file. Here the write goes to a temp file and is
  * atomically renamed (designed divergence, SURVEY.md §7.5).
  *
  * JSON (de)serialization uses Jackson from Spark's runtime classpath —
  * no extra dependency.
  */
final class Checkpoint(path: Path) {

  private val mapper = new ObjectMapper()

  def this(pathStr: String) = this(Paths.get(pathStr))

  /** Load the full progress map, empty if the file doesn't exist
    * (reference: services/resume.py:10-15).
    */
  def load(): Map[String, Map[String, TableProgress]] = {
    if (!Files.exists(path)) return Map.empty
    val root = mapper.readValue(
      Files.readString(path), classOf[java.util.Map[String, Object]])
    root.asScala.toMap.map { case (db, tablesObj) =>
      val tables = tablesObj.asInstanceOf[java.util.Map[String, Object]]
      db -> tables.asScala.toMap.map { case (table, progObj) =>
        val prog = progObj.asInstanceOf[java.util.Map[String, Object]]
        val parts = Option(prog.get("completed_partitions"))
          .map(_.asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSeq)
          .getOrElse(Seq.empty)
        val status = Option(prog.get("status")).map(_.toString).getOrElse("running")
        table -> TableProgress(parts, TableStatus.fromName(status))
      }
    }
  }

  def tableProgress(db: String, table: String): Option[TableProgress] =
    load().get(db).flatMap(_.get(table))

  /** Record one more completed partition (write-through; reference:
    * services/resume.py:52-57 called at migration.py:505-506).
    */
  def markPartition(db: String, table: String, partition: PartitionId): Unit =
    markPartitions(db, table, Seq(partition))

  /** Record a wave of completed partitions with ONE atomic rewrite. The
    * file ends up exactly as `parts.foreach(markPartition)` would leave
    * it (same entries, same order, duplicates ignored), but a table of N
    * partitions in W waves rewrites the file W times instead of N.
    */
  def markPartitions(db: String, table: String, parts: Seq[PartitionId]): Unit =
    update(db, table) { prev =>
      val done = prev.completedPartitions.toSet
      val fresh = parts.map(_.render).distinct.filterNot(done)
      prev.copy(completedPartitions = prev.completedPartitions ++ fresh)
    }

  /** Mark a table's terminal status (reference: services/resume.py:59-69). */
  def markStatus(db: String, table: String, status: TableStatus): Unit =
    update(db, table)(_.copy(status = status))

  def initTable(db: String, table: String): Unit =
    update(db, table)(identity)

  private def update(db: String, table: String)(
      f: TableProgress => TableProgress): Unit = synchronized {
    val all = load()
    val dbMap = all.getOrElse(db, Map.empty)
    val prev = dbMap.getOrElse(table, TableProgress(Nil, TableStatus.Running))
    val next = all.updated(db, dbMap.updated(table, f(prev)))
    save(next)
  }

  /** Atomic save: temp file + ATOMIC_MOVE rename. */
  def save(all: Map[String, Map[String, TableProgress]]): Unit = {
    val root = new java.util.LinkedHashMap[String, Object]()
    all.foreach { case (db, tables) =>
      val dbMap = new java.util.LinkedHashMap[String, Object]()
      tables.foreach { case (table, prog) =>
        val progMap = new java.util.LinkedHashMap[String, Object]()
        progMap.put("completed_partitions", prog.completedPartitions.asJava)
        progMap.put("status", prog.status.name)
        dbMap.put(table, progMap)
      }
      root.put(db, dbMap)
    }
    val json = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
    if (path.getParent != null) Files.createDirectories(path.getParent)
    val tmp = Files.createTempFile(
      Option(path.getParent).getOrElse(Paths.get(".")), ".ckpt", ".tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Uncompleted work list: live partitions minus checkpointed, order
    * preserved; a table already `completed` yields an empty list
    * (reference: services/resume.py:22-39).
    */
  def uncompleted(db: String, table: String, all: Seq[PartitionId]): Seq[PartitionId] =
    tableProgress(db, table) match {
      case Some(p) if p.status == TableStatus.Completed => Seq.empty
      case Some(p) =>
        val done = p.completedPartitions.toSet
        all.filterNot(pid => done.contains(pid.render))
      case None => all
    }
}
