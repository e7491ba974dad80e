package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Schema-driven data-quality profiling — the generic face of the
  * oracle-checked `a_dq_report` query: per-column completeness,
  * approximate cardinality, and value bounds for ANY table, computed in
  * ONE pass (a single aggregate with 4 expressions per column — no
  * per-column scans). Distinct counts use HLL (`approx_count_distinct`):
  * a profile is a diagnostic, and the exact alternative would cost one
  * Expand row per column per input row at 100 TB. The pivot to tall
  * audit form is a zero-shuffle `stack` over the 1-row aggregate.
  */
object DataQuality {

  /** Tall per-column profile: (column, n_rows, null_count,
    * completeness, approx_distinct, min_value, max_value).
    *
    * Built entirely from typed Columns — raw column names never enter
    * SQL text (internal aliases are index-based), so names containing
    * quotes/backticks profile fine and the "ANY table" contract holds.
    * The pivot to tall form is a zero-shuffle explode over the 1-row
    * aggregate (same cost class as the `stack` it replaces). An empty
    * table reports completeness 1.0 (vacuously complete — no row is
    * missing a value) rather than NaN, keeping downstream JSON valid.
    */
  def profile(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    // col() parses its argument as an attribute path, so a name
    // containing a backtick needs backtick-quoting with doubling —
    // the one place a name-derived string appears, and it's escaped.
    def c0(c: String) = col("`" + c.replace("`", "``") + "`")
    val aggs = Seq(count(lit(1)).as("__n")) ++
      cols.zipWithIndex.flatMap { case (c, i) =>
        Seq(
          sum(when(c0(c).isNull, 1).otherwise(0)).cast("long")
            .as(s"__null_$i"),
          approx_count_distinct(c0(c)).as(s"__nd_$i"),
          min(c0(c)).cast("string").as(s"__min_$i"),
          max(c0(c)).cast("string").as(s"__max_$i"))
      }
    val a = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("column"),
        col(s"__null_$i").as("null_count"),
        col(s"__nd_$i").as("approx_distinct"),
        col(s"__min_$i").as("min_value"),
        col(s"__max_$i").as("max_value"))
    }
    a.select(col("__n"), explode(array(entries: _*)).as("e"))
      .select(col("e.column").as("column"), col("__n").as("n_rows"),
        col("e.null_count").as("null_count"),
        when(col("__n") === 0, lit(1.0))
          .otherwise(round(lit(1.0) - col("e.null_count").cast("double") /
            col("__n").cast("double"), 6)).as("completeness"),
        col("e.approx_distinct").as("approx_distinct"),
        col("e.min_value").as("min_value"),
        col("e.max_value").as("max_value"))
  }

  /** One [[profile]] row as a value — the unit the drift gate compares
    * and the dq report serializes (bounded by schema width, never row
    * data).
    */
  final case class ColumnProfile(
      column: String,
      nRows: Long,
      nullCount: Long,
      completeness: Double,
      approxDistinct: Long,
      minValue: Option[String],
      maxValue: Option[String])

  /** [[profile]] collected to typed values, ordered by column. */
  def collectProfile(df: DataFrame): Seq[ColumnProfile] =
    profile(df).orderBy("column").collect().toSeq.map { r =>
      ColumnProfile(r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4),
        Option(r.getString(5)), Option(r.getString(6)))
    }

  /** One drift finding: `metric` ∈ presence | completeness |
    * approx_distinct | min_bound | max_bound, with both sides rendered
    * for the report.
    */
  final case class Drift(
      column: String, metric: String, baseline: String, current: String)

  /** Anomaly-detection drift between two profiles of the same logical
    * table — the operational upgrade of the one-shot profile (and of
    * the reference's count-only validation, A35): instead of absolute
    * thresholds, each run is judged against the LAST run's recorded
    * profile, so "normal" is whatever the pipeline actually produces
    * and the gate fires on CHANGE. (Deequ's AnomalyCheck shape.)
    *
    * Rules, all tolerance-gated:
    *  - presence: a baseline column MISSING from the current profile is
    *    drift; a NEW current column is benign (additive schema
    *    evolution — same stance as the resync schema gate).
    *  - completeness: an absolute DROP > `tolerance` (a rise is fine —
    *    fewer nulls is not an anomaly).
    *  - approx_distinct: relative change > `tolerance` in either
    *    direction (cardinality collapse = a constant-stuck column;
    *    explosion = a key leaking into a categorical). HLL noise is
    *    ~2% at default rsd, so tolerances below ~0.1 will flake.
    *  - bounds (NUMERIC columns only): the observed range escaping the
    *    baseline range by > `tolerance` × baseline span on either end.
    *    Relative-to-span keeps growing time/id columns quiet (a day's
    *    growth on a years-wide column is ≪ tolerance) while a price
    *    going negative or an outlier decade out fires. Non-numeric
    *    bounds are skipped — lexicographic span is not a distance.
    */
  def drift(
      baseline: Seq[ColumnProfile],
      current: Seq[ColumnProfile],
      tolerance: Double): Seq[Drift] = {
    require(tolerance >= 0, "tolerance must be >= 0")
    val cur = current.map(p => p.column -> p).toMap
    baseline.sortBy(_.column).flatMap { b =>
      cur.get(b.column) match {
        case None =>
          Seq(Drift(b.column, "presence", "present", "missing"))
        case Some(c) =>
          val comp =
            if (c.completeness < b.completeness - tolerance)
              Some(Drift(b.column, "completeness",
                b.completeness.toString, c.completeness.toString))
            else None
          val dist = {
            val rel = math.abs(c.approxDistinct - b.approxDistinct).toDouble /
              math.max(b.approxDistinct, 1L)
            if (rel > tolerance)
              Some(Drift(b.column, "approx_distinct",
                b.approxDistinct.toString, c.approxDistinct.toString))
            else None
          }
          def num(v: Option[String]): Option[Double] =
            v.flatMap(_.toDoubleOption).filter(d => !d.isNaN)
          val bounds = (num(b.minValue), num(b.maxValue),
              num(c.minValue), num(c.maxValue)) match {
            case (Some(bLo), Some(bHi), Some(cLo), Some(cHi)) =>
              // span 0 (constant column): any change in a bound is an
              // escape, scaled off the magnitude instead
              val span = math.max(bHi - bLo, math.max(math.abs(bHi), 1.0) * 1e-9)
              val lo = if (cLo < bLo - tolerance * span)
                Some(Drift(b.column, "min_bound",
                  b.minValue.get, c.minValue.get)) else None
              val hi = if (cHi > bHi + tolerance * span)
                Some(Drift(b.column, "max_bound",
                  b.maxValue.get, c.maxValue.get)) else None
              Seq(lo, hi).flatten
            case _ => Nil
          }
          comp.toSeq ++ dist.toSeq ++ bounds
      }
    }
  }

  // --- Distribution-SHAPE drift (PSI) --------------------------------
  //
  // The rule set above misses a same-bounds, same-cardinality shift —
  // a quality-score distribution collapsing toward one end passes
  // presence/completeness/cardinality/bounds untouched. The standard
  // gate for that is the population stability index over equi-width
  // histograms: PSI = Σᵢ (pᵢ − qᵢ)·ln(pᵢ/qᵢ) with p the baseline bin
  // proportions and q the current ones, BOTH binned on the BASELINE's
  // [lo, hi] (out-of-range current values clamp into the edge bins —
  // range escapes are the bounds rule's job, shape is this one's).
  // Proportions floor at 1e-6 so an empty bin contributes a finite
  // term. Conventional reading: < 0.1 stable, 0.1–0.2 moderate shift,
  // > 0.2 significant — the default threshold is 0.2.
  //
  // Scale shape: one bounds pass + ONE conditional-sum aggregate pass
  // for ALL profiled columns (bins × columns expressions over a 1-row
  // result — schema-width-bounded like [[profile]], never a per-column
  // scan), and the PSI fold is pure arithmetic over ≤ bins counts.

  /** Histogram model state for one column: baseline bounds + bin
    * counts. Bounded by `bins` (≤ a few dozen), never row data.
    */
  final case class HistProfile(
      column: String, lo: Double, hi: Double, counts: Seq[Long])

  /** Clamped baseline-binned bucket of a value column: `[lo, hi]`
    * split into `bins` equi-width bins, under/overflow clamped into
    * the edge bins, degenerate span (lo == hi) all in bin 0.
    */
  private def bucketOf(v: org.apache.spark.sql.Column, lo: Double,
      hi: Double, bins: Int): org.apache.spark.sql.Column =
    if (hi <= lo) lit(0L)
    else least(greatest(
      floor((v.cast("double") - lit(lo)) / lit((hi - lo) / bins)),
      lit(0L)), lit(bins - 1L))

  /** Fixed-bin histograms of `columns` (each cast to double; nulls
    * excluded), bounds data-driven: one (min, max) pass, then one
    * conditional-sum pass for every (column, bin) cell. Columns whose
    * bounds are null (all-null or empty input) or non-castable are
    * skipped — no histogram, nothing to compare.
    */
  def collectHistograms(df: DataFrame, columns: Seq[String],
      bins: Int = 10): Seq[HistProfile] = {
    require(bins >= 2 && bins <= 64, s"bins must be in [2, 64] ($bins)")
    if (columns.isEmpty) return Nil
    // same backtick-escaped constructor histogramCounts uses for the
    // count pass — a dotted/backticked column name must resolve to the
    // SAME column in both passes of one feature
    val boundAggs = columns.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(escCol(c).cast("double")).as(s"__lo_$i"),
        max(escCol(c).cast("double")).as(s"__hi_$i"))
    }
    val b = df.agg(boundAggs.head, boundAggs.tail: _*).head()
    val specs = columns.zipWithIndex.flatMap { case (c, i) =>
      if (b.isNullAt(2 * i) || b.isNullAt(2 * i + 1)) None
      else Some((c, b.getDouble(2 * i), b.getDouble(2 * i + 1)))
    }
    histogramCounts(df, specs.map { case (c, lo, hi) =>
      HistProfile(c, lo, hi, Nil)
    }, bins).map { case (c, counts) =>
      val (_, lo, hi) = specs.find(_._1 == c).get
      HistProfile(c, lo, hi, counts)
    }.toSeq.sortBy(_.column)
  }

  /** Bin counts of `df`'s values in each profile's BASELINE bins
    * (clamped — see [[bucketOf]]), all profiles in ONE aggregate pass;
    * `bins` is passed explicitly so bounds-only profiles (empty
    * `counts`) can be counted too.
    */
  /** Backtick-escaped column ref: a profiled column name containing a
    * dot or backtick must parse as ONE column everywhere.
    */
  private def escCol(c: String): org.apache.spark.sql.Column =
    col("`" + c.replace("`", "``") + "`")

  def histogramCounts(df: DataFrame, profiles: Seq[HistProfile],
      bins: Int): Map[String, Seq[Long]] = {
    if (profiles.isEmpty) return Map.empty
    def c0(c: String) = escCol(c)
    val aggs = profiles.zipWithIndex.flatMap { case (p, i) =>
      val bkt = bucketOf(c0(p.column), p.lo, p.hi, bins)
      (0 until bins).map { k =>
        // coalesce: sum over an EMPTY input is null, and a null cell
        // would NPE the collect — an empty relation has zero mass in
        // every bin
        coalesce(
          sum(when(c0(p.column).isNotNull && bkt === k, 1L).otherwise(0L)),
          lit(0L)).cast("long").as(s"__h_${i}_$k")
      }
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    profiles.zipWithIndex.map { case (p, i) =>
      p.column -> (0 until bins).map(k => r.getLong(i * bins + k))
    }.toMap
  }

  /** PSI between two aligned count vectors (pure arithmetic; both
    * sides' proportions floored at 1e-6).
    */
  def psi(baseCounts: Seq[Long], curCounts: Seq[Long]): Double = {
    require(baseCounts.length == curCounts.length,
      s"PSI needs aligned bins (${baseCounts.length} vs ${curCounts.length})")
    val tb = math.max(baseCounts.sum, 1L).toDouble
    val tc = math.max(curCounts.sum, 1L).toDouble
    baseCounts.zip(curCounts).map { case (nb, nc) =>
      val p = math.max(nb / tb, 1e-6)
      val q = math.max(nc / tc, 1e-6)
      (p - q) * math.log(p / q)
    }.sum
  }

  /** Shape-drift findings: each baseline histogram's PSI against
    * `current`'s values (binned on the BASELINE bounds) exceeding
    * `threshold` is one `psi` finding. Columns missing from `current`
    * are the presence rule's job and are skipped here.
    */
  def psiDrift(baseline: Seq[HistProfile], current: DataFrame,
      threshold: Double = 0.2): Seq[Drift] = {
    require(threshold >= 0, "threshold must be >= 0")
    val present = baseline.filter(p => current.columns.contains(p.column))
    if (present.isEmpty) return Nil
    val bins = present.head.counts.length
    require(present.forall(_.counts.length == bins),
      "baseline histograms must share one bin count")
    val cur = histogramCounts(current, present, bins)
    present.sortBy(_.column).flatMap { p =>
      val cnts = cur(p.column)
      // zero counted rows (empty batch / all-null column) is "no
      // evidence", not a shape shift — the completeness rule owns
      // missing data; an unguarded fold would read a huge fake PSI
      // against the 1e-6 floors
      if (cnts.sum == 0L) None
      else {
        val v = psi(p.counts, cnts)
        if (v > threshold)
          Some(Drift(p.column, "psi", threshold.toString, f"$v%.4f"))
        else None
      }
    }
  }

  /** PSI between two relations' distributions of `valueCol` as a
    * 1-row DataFrame `(psi, n_base, n_cur)` — the oracle-checkable
    * query face of [[psiDrift]] (`a_dq_psi`). Fully distributed:
    * bounds reduce to one broadcast row, each side buckets map-side
    * into ≤ `bins` cells, and the fold runs over the joined bin
    * counts — nothing proportional to row count crosses the wire.
    */
  def psiBetween(base: DataFrame, cur: DataFrame, valueCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 64, s"bins must be in [2, 64] ($bins)")
    val v = col(valueCol).cast("double")
    val bounds = base.agg(min(v).as("lo"), max(v).as("hi"))
    def bucketed(df: DataFrame, out: String) = df
      .select(v.as("_v")).where(col("_v").isNotNull)
      .crossJoin(broadcast(bounds))
      .select(when(col("hi") <= col("lo"), lit(0L)).otherwise(
        least(greatest(floor((col("_v") - col("lo")) /
          ((col("hi") - col("lo")) / lit(bins.toDouble))), lit(0L)),
          lit(bins - 1L))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as(out))
    val joined = bucketed(base, "nb")
      .join(bucketed(cur, "nc"), Seq("bucket"), "full_outer")
      .select(coalesce(col("nb"), lit(0L)).as("nb"),
        coalesce(col("nc"), lit(0L)).as("nc"))
    val tot = joined.agg(sum(col("nb")).as("tb"), sum(col("nc")).as("tc"))
    val p = greatest(col("nb").cast("double") / col("tb").cast("double"),
      lit(1e-6))
    val q = greatest(col("nc").cast("double") / col("tc").cast("double"),
      lit(1e-6))
    joined.crossJoin(broadcast(tot))
      .agg(round(sum((p - q) * log(p / q)), 4).as("psi"),
        max(col("tb")).cast("long").as("n_base"),
        max(col("tc")).cast("long").as("n_cur"))
  }

  // --- Categorical shape drift -------------------------------------
  //
  // The numeric PSI above bins VALUES; a categorical column's shape is
  // its category FREQUENCY MIX, which can shift arbitrarily inside
  // stable cardinality AND stable completeness — invisible to every
  // profile rule (DataQualitySpec proves the miss). Bins here are the
  // baseline's top-K categories plus one `__other__` tail bucket;
  // binning on the BASELINE's top-K (like binning on the baseline's
  // numeric bounds) makes "a category fell out of / rose into the
  // head" legible as mass moving between a named bin and the tail.

  /** Sentinel tail bin: every non-null value outside the baseline's
    * top-K. Collides with a real category literally named `__other__`
    * — acceptable for a drift DIAGNOSTIC (the mass still moves the
    * same direction), called out here rather than hidden.
    */
  val OtherBin = "__other__"

  /** Categorical twin of [[HistProfile]]: the baseline's top-K
    * categories (by count desc, value asc — a total order, so two runs
    * over one dataset profile identically), their counts, and the
    * count of everything else. Values are compared as strings (the
    * profile report is JSON; a numeric-coded categorical profiles by
    * its string form).
    */
  final case class CatProfile(column: String, categories: Seq[String],
      counts: Seq[Long], otherCount: Long)

  /** Top-K category profiles of `columns`, ONE scan for all columns:
    * the row is exploded to (column, value) pairs — map-side, no data
    * copy beyond the projected columns — and a single map-combined
    * aggregate counts each (column, value) cell; only
    * Σ per-column distinct rows cross the wire, never row-proportional
    * traffic. Nulls are excluded (completeness owns missing data).
    * All-null / empty columns profile as empty (nothing to compare).
    */
  def collectCategoryHistograms(df: DataFrame, columns: Seq[String],
      topK: Int = 10): Seq[CatProfile] = {
    require(topK >= 1 && topK <= 64, s"topK must be in [1, 64] ($topK)")
    if (columns.isEmpty) return Nil
    val pairs = columns.flatMap(c =>
      Seq(lit(c), escCol(c).cast("string")))
    val counted = df
      .select(explode(map(pairs: _*)).as(Seq("_col", "_v")))
      .where(col("_v").isNotNull)
      .groupBy("_col", "_v").agg(count(lit(1)).as("_n"))
      .collect().toSeq
      .groupBy(_.getString(0))
    columns.flatMap { c =>
      counted.get(c).map { rows =>
        val byCount = rows
          .map(r => (r.getString(1), r.getLong(2)))
          .sortBy { case (v, n) => (-n, v) }
        val (top, rest) = byCount.splitAt(topK)
        CatProfile(c, top.map(_._1), top.map(_._2), rest.map(_._2).sum)
      }
    }
  }

  /** Counts of `df`'s values in each profile's baseline category bins
    * (+ [[OtherBin]]), all profiles in ONE conditional-sum aggregate
    * pass — the categorical twin of [[histogramCounts]]. Returned
    * vectors are `categories.length + 1` long, tail bucket last.
    */
  def categoryCounts(df: DataFrame, profiles: Seq[CatProfile])
      : Map[String, Seq[Long]] = {
    if (profiles.isEmpty) return Map.empty
    val aggs = profiles.zipWithIndex.flatMap { case (p, i) =>
      val v = escCol(p.column).cast("string")
      val cells = p.categories.zipWithIndex.map { case (cat, k) =>
        (when(v === lit(cat), 1L).otherwise(0L), s"__c_${i}_$k")
      } :+ ((when(v.isNotNull &&
        !v.isin(p.categories.map(lit): _*), 1L).otherwise(0L),
        s"__c_${i}_${p.categories.length}"))
      cells.map { case (cond, nm) =>
        coalesce(sum(cond), lit(0L)).cast("long").as(nm)
      }
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    var off = 0
    profiles.map { p =>
      val width = p.categories.length + 1
      val v = (0 until width).map(k => r.getLong(off + k))
      off += width
      p.column -> v
    }.toMap
  }

  /** Categorical shape-drift findings: PSI between each baseline
    * profile's (top-K + other) counts and `current`'s values in the
    * same bins, findings above `threshold`. Columns missing from
    * `current` are the presence rule's job; an empty/all-null current
    * column is the completeness rule's (no evidence ≠ shape shift).
    */
  def psiDriftCategorical(baseline: Seq[CatProfile], current: DataFrame,
      threshold: Double = 0.2): Seq[Drift] = {
    require(threshold >= 0, "threshold must be >= 0")
    val present = baseline.filter(p =>
      current.columns.contains(p.column) && p.categories.nonEmpty)
    if (present.isEmpty) return Nil
    val cur = categoryCounts(current, present)
    present.sortBy(_.column).flatMap { p =>
      val cnts = cur(p.column)
      if (cnts.sum == 0L) None
      else {
        val v = psi(p.counts :+ p.otherCount, cnts)
        if (v > threshold)
          Some(Drift(p.column, "psi_cat", threshold.toString, f"$v%.4f"))
        else None
      }
    }
  }

  /** Categorical twin of [[psiBetween]]: PSI between two relations'
    * category mixes of `valueCol`, bins = `base`'s top-K categories
    * (count desc, value asc) + [[OtherBin]], as a 1-row
    * `(psi, n_base, n_cur)` DataFrame — the oracle-checkable face
    * (`a_dq_psi_cat`). Scale shape: the top-K head reduces through a
    * TakeOrdered (K rows, never a global sort materialization) and
    * rides a BROADCAST into both sides' map-side binning; each side
    * shuffles ≤ K+1 bin-count rows; the fold runs over the joined bin
    * counts. Nothing row-proportional crosses the wire.
    */
  def psiBetweenCategorical(base: DataFrame, cur: DataFrame,
      valueCol: String, topK: Int = 10): DataFrame = {
    require(topK >= 1 && topK <= 64, s"topK must be in [1, 64] ($topK)")
    val v = escCol(valueCol).cast("string")
    val topk = base.select(v.as("_v")).where(col("_v").isNotNull)
      .groupBy("_v").agg(count(lit(1)).as("_n"))
      .orderBy(col("_n").desc, col("_v").asc).limit(topK)
      .select(col("_v").as("_cat"))
    def binned(df: DataFrame, out: String) = df
      .select(v.as("_v")).where(col("_v").isNotNull)
      .join(broadcast(topk), col("_v") === col("_cat"), "left")
      .select(coalesce(col("_cat"), lit(OtherBin)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as(out))
    val joined = binned(base, "nb")
      .join(binned(cur, "nc"), Seq("bin"), "full_outer")
      .select(coalesce(col("nb"), lit(0L)).as("nb"),
        coalesce(col("nc"), lit(0L)).as("nc"))
    val tot = joined.agg(sum(col("nb")).as("tb"), sum(col("nc")).as("tc"))
    val p = greatest(col("nb").cast("double") / col("tb").cast("double"),
      lit(1e-6))
    val q = greatest(col("nc").cast("double") / col("tc").cast("double"),
      lit(1e-6))
    joined.crossJoin(broadcast(tot))
      .agg(round(sum((p - q) * log(p / q)), 4).as("psi"),
        max(col("tb")).cast("long").as("n_base"),
        max(col("tc")).cast("long").as("n_cur"))
  }
}
