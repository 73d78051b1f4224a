package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint suite (Deequ-shaped): a list of
  * [[QualityOps.Check]]s evaluates to ONE report frame
  * `(check, observed, violations, pass)` — the publish gate a warehouse
  * load runs, as a value instead of ad-hoc queries (q69 profiles columns,
  * q105 audits one FK chain; this is the declared-contract form of both).
  *
  * Evaluation cost is the point of the design: every ROW-LEVEL check
  * (null, set membership, bounds, custom predicate) folds into a SINGLE
  * aggregation pass over the table — one scan, one 1-row result,
  * regardless of how many such checks are declared. Only set-level
  * checks add work: `Unique` is one keyed agg (map-side combined; the
  * wire carries distinct keys), `RefIntegrity` one left-anti join per
  * declared FK (probing the child's DISTINCT keys, never the fact
  * table). Nothing here collects data to the driver; the report is a
  * ≤ |checks|-row frame.
  *
  * Determinism: observed/violations are exact integers, `pass` a
  * boolean — the report is hash-comparable across engines, which is how
  * x101 oracles the whole suite.
  */
object QualityOps {

  sealed trait Check { def name: String }

  /** Column must be non-null (and non-blank when `trimBlank`). */
  final case class NotNull(col: String, trimBlank: Boolean = false)
      extends Check { def name = s"not_null($col)" }

  /** Column values must come from `allowed`. Nulls count as violations —
    * declare a separate NotNull to attribute them. */
  final case class InSet(col: String, allowed: Seq[String]) extends Check {
    def name = s"in_set($col)"
  }

  /** Numeric column within [lo, hi], null-safe (nulls violate). */
  final case class Bounds(col: String, lo: Long, hi: Long) extends Check {
    def name = s"bounds($col)"
  }

  /** Arbitrary row predicate that must hold (violations = rows where it
    * is false or null). */
  final case class Satisfies(label: String, predicate: Column)
      extends Check { def name = s"satisfies($label)" }

  /** Key columns must identify rows uniquely. NULL-key semantics are
    * pinned: a row with ANY null key column cannot be identified by the
    * key, so it counts as a violation outright; `observed` counts
    * DISTINCT fully-non-null keys (SQL `count(DISTINCT k)` parity —
    * DuckDB/ANSI exclude the null group there while Spark's groupBy
    * would keep it, a cross-engine divergence this definition closes). */
  final case class Unique(cols: Seq[String]) extends Check {
    def name = s"unique(${cols.mkString(",")})"
  }

  /** Every non-null child key must exist in `dim.dimKey`. */
  final case class RefIntegrity(col: String, dim: DataFrame, dimKey: String)
      extends Check { def name = s"ref($col)" }

  /** Row-level violation predicate for a check. Only row-level checks
    * have one; set-level checks (Unique, RefIntegrity) throw. */
  private def rowViolation(c: Check): Column = c match {
    case NotNull(cl, blank) =>
      val base = col(cl).isNull
      if (blank) base || trim(col(cl)) === "" else base
    case InSet(cl, allowed) => !col(cl).isInCollection(allowed) ||
      col(cl).isNull
    case Bounds(cl, lo, hi) => col(cl).isNull ||
      col(cl) < lo || col(cl) > hi
    case Satisfies(_, p) => !coalesce(p, lit(false))
    case other => throw new IllegalArgumentException(
      s"not a row-level check: $other")
  }

  /** Evaluate `checks` against `df` → one row per check:
    * (check, observed, violations, pass). `observed` is the row count
    * for row-level checks, the distinct-key count for Unique, and the
    * distinct non-null child-key count for RefIntegrity. */
  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "QualityOps.report needs at least one check")
    val rowLevel = checks.collect {
      case c @ (_: NotNull | _: InSet | _: Bounds | _: Satisfies) => c
    }
    val rowReport: Option[DataFrame] =
      if (rowLevel.isEmpty) None
      else Some {
        // one scan, one agg: every row-level check is a conditional sum
        val aggs = rowLevel.zipWithIndex.map { case (c, i) =>
          sum(when(rowViolation(c), 1L).otherwise(0L)).as(s"_v$i") }
        val agged = df.agg(count(lit(1)).as("_n"), aggs: _*)
        val one = rowLevel.zipWithIndex.map { case (c, i) =>
          struct(lit(c.name).as("check"), col("_n").as("observed"),
                 col(s"_v$i").as("violations"))
        }
        agged.select(explode(array(one: _*)).as("r"))
          .select(col("r.check"), col("r.observed"), col("r.violations"))
      }
    val setReports: Seq[DataFrame] = checks.collect {
      case c @ Unique(cols_) =>
        // one keyed agg still: the null-key arm rides the same groups.
        // Every null-key ROW is a violation (its count, not count−1 —
        // no null key identifies anything); observed counts distinct
        // fully-non-null keys, matching SQL count(DISTINCT k)
        val keyed = df.groupBy(cols_.map(col): _*)
          .agg(count(lit(1)).as("_c"))
        val nullKey = cols_.map(col(_).isNull).reduce(_ || _)
        keyed.agg(
            coalesce(sum(when(nullKey, 0L).otherwise(1L)), lit(0L))
              .as("observed"),
            coalesce(sum(when(nullKey, col("_c"))
              .when(col("_c") > 1, col("_c") - 1L)
              .otherwise(0L)), lit(0L)).as("violations"))
          .select(lit(c.name).as("check"), col("observed"),
                  col("violations"))
      case c @ RefIntegrity(cl, dim, dimKey) =>
        val keys = df.filter(col(cl).isNotNull)
          .select(col(cl).as(dimKey)).distinct()
        val orphans = keys.join(dim.select(col(dimKey)).distinct(),
                                Seq(dimKey), "left_anti")
        keys.agg(count(lit(1)).as("observed"))
          .crossJoin(broadcast(
            orphans.agg(count(lit(1)).as("violations"))))
          .select(lit(c.name).as("check"), col("observed"),
                  col("violations"))
    }
    (rowReport.toSeq ++ setReports)
      .reduce(_ unionByName _)
      .withColumn("pass", col("violations") === 0L)
  }

  /** Per-group exact score tertiles (x154 — CCNet's head/middle/tail
    * calibration device): every group gets its OWN cutoffs c1/c2 = the
    * largest score whose top-down row count reaches max(1, ⌊tot/3⌋) and
    * max(1, ⌊2·tot/3⌋), and each row is bucketed `head` (score ≥ c1), `middle`
    * (≥ c2), else `tail`. Ties keep an entire equal-score run in one
    * bucket — boundary buckets may exceed a third (the standard
    * grouped-quantile tie semantics); a 1-row group is all-head (both
    * ranks clamp to 1). Dataflow: the rows collapse to the (group,
    * score) value domain, [[PrefixSumOps.selectRanks]] runs GROUPED —
    * only rank-carrying ranges are shuffled/windowed, never a per-group
    * global sort — and the |groups|-row cutoff table broadcasts back
    * onto the full input. Scores must be non-null. */
  def scoreTertiles(df: DataFrame, scoreCol: String, groupCol: String)
                   (implicit scope: CacheScope): DataFrame =
    applyTertiles(df, tertileCutoffs(df, scoreCol, groupCol),
                  scoreCol, groupCol)

  /** The cutoff half of [[scoreTertiles]]: per group, (_c1, _c2) = the
    * largest scores whose top-down row counts reach max(1, ⌊tot/3⌋) and
    * max(1, ⌊2·tot/3⌋) — a |groups|-row frame. Exposed separately so the
    * cutoffs can be FROZEN and applied to a later batch (x159's
    * incremental economics: the corpus calibration is an artifact, not
    * a per-ingest recomputation). */
  def tertileCutoffs(df: DataFrame, scoreCol: String,
                     groupCol: String)
                    (implicit scope: CacheScope): DataFrame = {
    val vc = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("_docs"))
      .withColumn("_nq", -col(scoreCol))
    PrefixSumOps.selectRanks(
        vc.select(col(groupCol), col("_nq"), col("_docs")), Seq(groupCol),
        "_nq", "_docs",
        array(expr("greatest(CAST(1 AS BIGINT), _tot DIV 3)"),
              expr("greatest(CAST(1 AS BIGINT), (_tot * 2) DIV 3)")))
      .groupBy(col(groupCol))
      .agg(max(when(col("_ri") === 0, -col("_nq"))).as("_c1"),
           max(when(col("_ri") === 1, -col("_nq"))).as("_c2"))
  }

  /** X160 core — UniMax allocation (Chung et al. 2023's epoch-capped
    * UNIFORM mixing; the fairness complement to x59's temperature
    * weights): a doc budget of `budgetNum/budgetDen` of the corpus is
    * split EQUALLY across groups, except no group is ever allocated
    * more than its own size (cap = 1 epoch — never upsample); a capped
    * group's unused share waterfills into the remaining groups. The
    * walk is the standard closed form over the cap-ascending order —
    * group i is capped iff n_i·(S−i+1) ≤ T−P_{i−1} (multiplication
    * form, division-free; the capped set is a prefix of the order) —
    * and the leftover splits base + largest-remainder with ties pinned
    * by (n, key). Everything runs on the collapsed |groups|-row domain
    * (one corpus agg upstream, persisted — three tiny consumers), so
    * the unpartitioned windows are value-domain-bounded. Returns
    * (key, n_docs, alloc, capped); Σ alloc = T exactly whenever any
    * group is uncapped. */
  def unimaxAlloc(counts: DataFrame, keyCol: String, nCol: String,
                  budgetNum: Long = 9, budgetDen: Long = 10)
                 (implicit scope: CacheScope): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0,
      s"unimaxAlloc: bad budget $budgetNum/$budgetDen")
    val c = scope.persist(counts)
    c.count() // eager: the corpus agg runs once for all consumers
    val tot = c.agg(count(lit(1)).as("s"),
      expr(s"($budgetNum * sum($nCol)) DIV $budgetDen").as("t"))
    val wOrd = Window.orderBy(col(nCol), col(keyCol))
    val flg = c
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("p", coalesce(sum(col(nCol)).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("capped",
        col(nCol) * (col("s") - col("i") + 1) <= col("t") - col("p"))
    val base = flg.agg(max(col("s")).as("s"), max(col("t")).as("t"),
        sum(when(col("capped"), 1L).otherwise(0L)).as("kk"),
        sum(when(col("capped"), col(nCol)).otherwise(0L)).as("pcap"))
      // greatest(.,1): when EVERY group is capped (T ≥ Σn) there are no
      // uncapped rows to read b/r, but the division must not be by zero
      .withColumn("b",
        expr("(t - pcap) DIV greatest(s - kk, CAST(1 AS BIGINT))"))
      .withColumn("r",
        expr("(t - pcap) % greatest(s - kk, CAST(1 AS BIGINT))"))
      .select(col("b"), col("r"))
    val unc = flg.filter(!col("capped"))
      .withColumn("u", row_number().over(wOrd).cast("long"))
      .select(col(keyCol), col("u"))
    flg.join(unc, Seq(keyCol), "left_outer")
      .crossJoin(broadcast(base))
      .select(col(keyCol), col(nCol).as("n_docs"),
        when(col("capped"), col(nCol))
          .otherwise(col("b") +
            when(col("u") <= col("r"), 1L).otherwise(0L)).as("alloc"),
        col("capped"))
  }

  /** The application half of [[scoreTertiles]]: bucket every row by the
    * given (possibly FROZEN) cutoff table. A group with no cutoff row
    * buckets `head` — no calibration evidence is no reason to refuse
    * (only reachable when `cuts` was fitted on a different frame; the
    * self-derived [[scoreTertiles]] path always has full coverage). */
  def applyTertiles(df: DataFrame, cuts: DataFrame, scoreCol: String,
                    groupCol: String): DataFrame =
    df.join(broadcast(cuts), Seq(groupCol), "left_outer")
      .withColumn("bucket",
        when(col("_c1").isNull, "head")
          .when(col(scoreCol) >= col("_c1"), "head")
          .when(col(scoreCol) >= col("_c2"), "middle")
          .otherwise("tail"))
      .drop("_c1", "_c2")
}
