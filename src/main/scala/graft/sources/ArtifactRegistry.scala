package graft.sources

import java.util.concurrent.ConcurrentHashMap

/** Build-once store for per-JVM standing artifacts: trained models,
  * materialized indexes, staged relations and file-metadata stats, each
  * keyed by (kind, dataset dir, params). Training and index builds are
  * the one-time cost; every later query against the same dataset reuses
  * the artifact, the way an interactive session amortizes a standing
  * index across its queries.
  *
  * Builds run OUTSIDE the map's lock: `computeIfAbsent` only inserts a
  * per-key once-cell, and the build runs under that cell's monitor. A
  * build may therefore fetch another key of the same registry (the
  * IVFPQ index fetches the PQ codebooks), which `ConcurrentHashMap`
  * forbids inside its own mapping function. Concurrent callers of one
  * key wait on its cell and never see a half-built artifact. A build
  * that throws stores nothing, so the next call builds again.
  *
  * Every build logs one `[graft] built <kind> for <dir> in X s` line,
  * so one-time costs stay attributable next to per-query timings.
  */
class ArtifactRegistry {
  import ArtifactRegistry._

  private final class Cell { @volatile var value: Option[Any] = None }
  private val cells = new ConcurrentHashMap[Key, Cell]()

  /** The artifact of `kind` for (`dir`, `params`), built on first use. */
  def apply[V](kind: Kind[V], dir: String, params: Any*)(build: => V): V = {
    val cell = cells.computeIfAbsent(Key(kind, dir, params), _ => new Cell)
    cell.value.getOrElse(cell.synchronized {
      cell.value.getOrElse {
        val t0 = System.nanoTime()
        val v = build
        cell.value = Some(v)
        val what = (kind.name +: params).mkString(" ")
        println(f"[graft] built $what for $dir in " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
        v
      }
    }).asInstanceOf[V]
  }
}

/** The process-wide registry the query layer shares. */
object ArtifactRegistry extends ArtifactRegistry {

  /** An artifact kind; its type parameter is the stored value's type. */
  final class Kind[V](val name: String)

  private final case class Key(kind: Kind[_], dir: String, params: Seq[Any])
}
