package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{CosineSim, Portable, Text}
/** profiling & statistics family: histograms, lift, correlation, quantiles, binning, trends, frequent items — members of [[GraftOps]], split out of the former single
  * 6,600-line object (round 19) purely for maintainability: the trait
  * mixes back into `object GraftOps`, so every callsite, registry op,
  * and scaladoc link is untouched. The self-type makes members of the
  * other family traits visible exactly as before the split. */
private[api] trait ProfilingApi { self: GraftOps.type =>

  // ------------------------------------------------- corpus profiling

  /** Model-calibration (reliability-diagram) report — the eval-pipeline
    * companion of a fitted scorer ([[ridgeFit]]/[[ridgeApply]], or any
    * quality model): bucket predictions into `buckets` equal-width bins
    * over [0, 1] and report, per bin, how often the label was actually
    * positive — a well-calibrated scorer's positive rate tracks its
    * bin. One map-side-combined hash agg over at most `buckets` groups
    * — nothing row-scale ever shuffles, scan speed at any corpus size.
    *
    * Exactness/portability contract (hash-gates): output is all
    * integers — n, n_pos, sum_score_us (the sum of per-row
    * floor-micros scores — mean_score = sum/n to whatever precision
    * the reader wants, with no float in the artifact), and pos_ppm
    * (n_pos·10⁶ div n, integer division). Bin assignment is
    * least(floor(score · buckets), buckets−1), the same IEEE op chain
    * the oracle states. Scores must arrive NORMALIZED to [0, 1]:
    * out-of-range or NaN scores raise_error (a reliability diagram of
    * unnormalized scores is a silent lie — the q140 loud posture);
    * NULL score or label rows drop up front (no bin, no verdict). */
  def calibrationReport(df: DataFrame, score: Column, label: Column,
      buckets: Int): DataFrame =
    calibrationCore(df, None, score, label, buckets)

  /** Sliced (per-group) [[calibrationReport]] — per-language/per-source
    * calibration is how a quality scorer is actually audited before a
    * mixture decision (the q54/q55 consumers): a scorer can be
    * calibrated globally while one slice runs systematically hot.
    * One row per occupied (group, bucket); same all-integer posture and
    * the same loud out-of-range contract as the global face. NULL
    * group rows drop with the NULL score/label rows (no slice, no
    * verdict). Still ONE hash agg over ≤ groups·buckets cells. */
  def calibrationReportBy(df: DataFrame, group: Column, score: Column,
      label: Column, buckets: Int): DataFrame =
    calibrationCore(df, Some(group), score, label, buckets)

  private def calibrationCore(df: DataFrame, groupOpt: Option[Column],
      score: Column, label: Column, buckets: Int): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"buckets must be in [2,1000]; got $buckets")
    val s = score.cast("double")
    val checked = when(s.isNull, s)
      .when(s >= 0.0 && s <= 1.0, s)
      .otherwise(raise_error(concat(
        lit("calibrationReport: score outside [0,1]: "), s.cast("string"))))
    val kept = groupOpt match {
      case Some(grp) =>
        df.filter(grp.isNotNull && score.isNotNull && label.isNotNull)
      case None => df.filter(score.isNotNull && label.isNotNull)
    }
    val projected = kept.select(
      (groupOpt.map(g => Seq(g.as("group"))).getOrElse(Nil) ++ Seq(
        least(floor(checked * lit(buckets)), lit(buckets - 1))
          .cast("int").as("bucket"),
        floor(checked * lit(1000000.0)).cast("long").as("__s_us"),
        label.cast("boolean").cast("int").as("__pos"))): _*)
    val keys = groupOpt.map(_ => Seq(col("group"))).getOrElse(Nil) :+
      col("bucket")
    projected
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(col("__pos")).cast("long").as("n_pos"),
        sum(col("__s_us")).as("sum_score_us"))
      .withColumn("pos_ppm", expr("n_pos * 1000000L DIV n")) // integer ppm
      .select(keys ++ Seq(col("n"), col("n_pos"), col("sum_score_us"),
        col("pos_ppm")): _*)
      .orderBy(keys: _*)
  }

  /** Exact tie-aware ROC-AUC report — the DISCRIMINATION companion of
    * [[calibrationReport]] (fit q159 → calibrate q160 → discriminate):
    * AUC == the Mann–Whitney statistic, P(score⁺ > score⁻) + ½P(tie),
    * computed EXACTLY from rank sums with average-rank tie handling.
    * One hash agg to per-distinct-score (n, n_pos) groups, one
    * cumulative window over the score-DISTINCT table (value-scale by
    * contract — distinct scores, not rows; the q129 exact-quantile
    * frame posture — [[aucReportMicros]] is the tier that BOUNDS that
    * value scale for float scorer outputs, and [[aucReportBy]]
    * distributes the window across slices), one 1-row reduce. Doubled
    * rank sums keep ties integral:
    * 2·Σ_pos avgrank = Σ_values n_pos·(2·cum_before + n + 1),
    * so every output is an exact integer and the report HASH-GATES —
    * u2 = 2U (numerator), denom = 2·n_pos·n_neg, and auc_ppm =
    * u2·10⁶ div denom, the ×10⁶ carried in decimal(38,0) so the
    * division is exact at ANY n (no Long ceiling on the ppm).
    * Single-class — and EMPTY (every row NULL-dropped) — inputs
    * raise_error (an AUC of one class is undefined — loud, never NaN
    * and never a silent all-NULL row); NULL score/label rows drop. */
  def aucReport(df: DataFrame, score: Column, label: Column): DataFrame =
    aucCore(df, None, score, label, quantizeMicros = false)

  /** [[aucReport]] on floor-micros-quantized scores — the SCALE tier
    * for float scorer outputs (e.g. [[ridgeApply]] scores, where
    * distinct values ≈ rows and the exact tier's value-scale window
    * would sort the whole eval set on one executor): scores floor to
    * micros BEFORE the distinct, so the window input is bounded by the
    * score RANGE ×10⁶ values by construction — ≤ 10⁶+1 rows for
    * normalized [0,1] scores — regardless of row count. This is a
    * STATED precision contract, not an approximation of one: the
    * quantization is exactly [[calibrationReport]]'s floor-micros
    * posture, ties within a micro-bucket count as ties, and on inputs
    * already quantized at micros (integer-valued scores included) the
    * report is BIT-EQUAL to the exact tier (spec-pinned, the q69/q70b
    * tier-equality pattern). */
  def aucReportMicros(df: DataFrame, score: Column, label: Column): DataFrame =
    aucCore(df, None, score, label, quantizeMicros = true)

  /** Sliced (per-group) [[aucReport]] — one AUC row per slice
    * (language, source, segment): a scorer's global AUC can hide a
    * slice where it is anti-correlated, and per-slice discrimination
    * is what a mixture decision (q54/q55) actually audits. Grouping
    * also makes the cumulative window `partitionBy(group)` — the
    * value-scale sort DISTRIBUTES across slices instead of running on
    * one executor. A single-class SLICE raises loudly, naming the
    * slice (an AUC of one class is undefined; dropping the slice
    * silently would hide exactly the segment that needs attention);
    * NULL group/score/label rows drop; empty input yields an empty
    * report (no slices — the grouped faces' convention). Set
    * `quantizeMicros` for the [[aucReportMicros]] scale tier per
    * slice. */
  def aucReportBy(df: DataFrame, group: Column, score: Column,
      label: Column, quantizeMicros: Boolean = false): DataFrame =
    aucCore(df, Some(group), score, label, quantizeMicros)

  private def aucCore(df: DataFrame, groupOpt: Option[Column], score: Column,
      label: Column, quantizeMicros: Boolean): DataFrame = {
    // NaN is loud in BOTH tiers (the calibrationReport range-guard
    // posture): the exact tier would rank NaN above every real score
    // while the micros tier's floor(NaN)→0 cast would merge it with
    // genuine zero-micro scores — two silently DIFFERENT answers for
    // garbage input; an evaluation over NaN scores is undefined
    val sRaw0 = score.cast("double")
    // ±Infinity raises like NaN (r20 ADVICE): the exact tier would key
    // on the Infinity double while the micros tier's floor(±Inf·10⁶)
    // cast saturates to ±Long.Max, silently merging it with any finite
    // score past ~9.2e12 — the same two-tier divergence the NaN guard
    // exists for
    val sRaw = when(isnan(sRaw0) ||
        sRaw0 === Double.PositiveInfinity || sRaw0 === Double.NegativeInfinity,
      raise_error(lit("aucReport: NaN or infinite score — rank undefined"))
        .cast("double"))
      .otherwise(sRaw0)
    val sKey =
      if (quantizeMicros) floor(sRaw * lit(1000000.0)).cast("long")
      else sRaw
    val kept = groupOpt match {
      case Some(grp) =>
        df.filter(grp.isNotNull && score.isNotNull && label.isNotNull)
      case None => df.filter(score.isNotNull && label.isNotNull)
    }
    val groupSel = groupOpt.map(g => Seq(g.as("group"))).getOrElse(Nil)
    val keys = groupOpt.map(_ => Seq(col("group"))).getOrElse(Nil)
    val g = kept
      .select(groupSel ++ Seq(sKey.as("__s"),
        label.cast("boolean").cast("long").as("__p")): _*)
      .groupBy(keys :+ col("__s"): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__p")).as("__np"))
    val w = (groupOpt match {
      case Some(_) => Window.partitionBy(col("group")).orderBy(col("__s"))
      case None => Window.orderBy(col("__s"))
    }).rowsBetween(Window.unboundedPreceding, -1)
    val summed = g
      .withColumn("__c", coalesce(sum(col("__n")).over(w), lit(0L)))
      .groupBy(keys: _*)
      .agg(sum(expr("__np * (2 * __c + __n + 1)")).as("__sum2r"),
        sum(col("__np")).as("n_pos"), sum(col("__n")).as("n"))
      .select(keys ++ Seq(col("n"), col("n_pos"),
        (col("n") - col("n_pos")).as("n_neg"), col("__sum2r")): _*)
    val slice = groupOpt.map(_ =>
      concat(lit(" in group "), col("group").cast("string")))
      .getOrElse(lit(""))
    // the loud guard is a FILTER, not a projected column: (a)
    // n_pos.isNull covers EMPTY/all-NULL input, where the GLOBAL agg
    // yields one all-NULL row and `=== 0` alone evaluates NULL; (b) a
    // `+ guard` term is silently SKIPPED by Spark's null-safe Add when
    // the other operand is NULL — exactly the degenerate case (both
    // r19 ADVICE findings); (c) a guard living in ONE projected column
    // is column-PRUNED for any consumer that doesn't select it
    // (.select("auc_ppm") on a single-class input surfaced a raw
    // divide-by-zero instead of this message — measured), and a filter
    // survives every projection
    summed
      .filter(
        when(col("n_pos").isNull || col("n_pos") === 0 || col("n_neg") === 0,
          raise_error(concat(lit("aucReport: single-class or empty input"),
            slice, lit(" (n_pos="),
            coalesce(col("n_pos").cast("string"), lit("0")), lit(", n_neg="),
            coalesce(col("n_neg").cast("string"), lit("0")),
            lit(") — AUC undefined"))).cast("boolean"))
          .otherwise(lit(true)))
      .withColumn("u2", expr("__sum2r - n_pos * (n_pos + 1)"))
      .withColumn("denom", expr("2 * n_pos * n_neg"))
      .select(keys ++ Seq(col("n"), col("n_pos"), col("n_neg"), col("u2"),
        col("denom"),
        // ×10⁶ in decimal(38,0): exact ppm at any n (a Long u2·10⁶
        // wraps past n ≈ 3·10⁶ rows — the q81 decimal trick)
        expr("CAST(CAST(u2 AS DECIMAL(38,0)) * 1000000 DIV denom AS BIGINT)")
          .as("auc_ppm")): _*)
      .orderBy(groupOpt.map(_ => Seq(col("group"))).getOrElse(Seq(col("n"))): _*)
  }

  /** Exact tie-aware precision–recall curve + average precision — the
    * RANK-QUALITY companion completing the scorer-eval family (fit
    * q159 → calibrate q160 → discriminate q161 → rank q162): ROC-AUC
    * flatters under the class imbalance quality-filter labels actually
    * have (a few percent positives), so mixture decisions read the PR
    * face. One row per DISTINCT score, descending (= every achievable
    * retrieval cut): the block's (n, n_pos), the cumulative
    * (cum_n, cum_pos) at that cut, exact integer-ppm precision@cut and
    * recall@cut, and `ap_ppm` — the RUNNING average precision in ppm,
    * whose last row (the row with the smallest score, cum_n = total n)
    * is the report's AP. Tie handling is block-atomic (a cut can only
    * fall between distinct scores — the q161 convention).
    *
    * Exactness contract: AP is the step-wise sum
    * Σ_blocks (recall_i − recall_{i−1})·precision_i with each block's
    * term floored to ppm BEFORE summing —
    * term_i = (np_i·cum_pos_i·10⁶) div (n_pos·cum_n_i), carried in
    * decimal(38,0) so it is exact at any scale — making every output
    * an order-independent exact integer that HASH-GATES (a float AP
    * would depend on engine summation order). Stated precision: the
    * floor costs < |blocks| µ of AP, i.e. AP_true − AP_reported <
    * distinct_scores·10⁻⁶ — the same stated-precision posture as q160.
    *
    * Plan: one hash agg to distinct scores, one cumulative window over
    * the score-DISTINCT table (value-scale by contract, the q161
    * posture — quantize scores upstream for float scorers), one
    * broadcast-joined 1-row total. Zero-positive inputs raise loudly
    * (AP undefined); all-positive inputs are defined (AP = 1); NULL
    * score/label rows drop; empty input yields an empty curve. */
  def prCurveReport(df: DataFrame, score: Column, label: Column): DataFrame =
    prCore(df, None, score, label, quantizeMicros = false)

  /** [[prCurveReport]] on floor-micros-quantized scores — the SCALE
    * tier for float scorer outputs (the [[aucReportMicros]] posture
    * verbatim): scores floor to micros BEFORE the distinct, so the
    * descending value-scale window — AND the curve itself, one row per
    * distinct cut — is bounded by the score range ×10⁶ by construction,
    * regardless of row count. A STATED precision contract: ties within
    * a micro-bucket count as one block-atomic cut, and on inputs
    * already quantized at micros the report is BIT-EQUAL to the exact
    * tier (spec-pinned, the q161b tier-equality pattern). */
  def prCurveReportMicros(df: DataFrame, score: Column,
      label: Column): DataFrame =
    prCore(df, None, score, label, quantizeMicros = true)

  /** Sliced (per-group) [[prCurveReport]] — one PR curve and running
    * AP per slice (language, source, segment): class imbalance is
    * usually slice-dependent (the very reason the PR face exists), so
    * the per-slice curve is what a mixture decision reads. Grouping
    * makes every window `partitionBy(group)` — the value-scale sort
    * distributes across slices (the q163 shape). A ZERO-POSITIVE
    * slice raises loudly NAMING the slice (AP undefined there;
    * dropping it silently would hide exactly the starved segment);
    * NULL group/score/label rows drop; empty input yields an empty
    * report. Set `quantizeMicros` for the micros tier per slice. */
  def prCurveReportBy(df: DataFrame, group: Column, score: Column,
      label: Column, quantizeMicros: Boolean = false): DataFrame =
    prCore(df, Some(group), score, label, quantizeMicros)

  private def prCore(df: DataFrame, groupOpt: Option[Column], score: Column,
      label: Column, quantizeMicros: Boolean): DataFrame = {
    // NaN and ±Infinity scores raise in both tiers — the aucCore rule
    // (the exact tier would rank NaN/±Inf at an extreme, the micros
    // tier's floor cast saturates them to ±Long.Max / 0; neither is an
    // answer — r20 ADVICE extended the guard to infinities)
    val sRaw0 = score.cast("double")
    val sRaw = when(isnan(sRaw0) ||
        sRaw0 === Double.PositiveInfinity || sRaw0 === Double.NegativeInfinity,
      raise_error(lit("prCurveReport: NaN or infinite score — rank undefined"))
        .cast("double"))
      .otherwise(sRaw0)
    val sKey =
      if (quantizeMicros) floor(sRaw * lit(1000000.0)).cast("long")
      else sRaw
    val kept = groupOpt match {
      case Some(grp) =>
        df.filter(grp.isNotNull && score.isNotNull && label.isNotNull)
      case None => df.filter(score.isNotNull && label.isNotNull)
    }
    val groupSel = groupOpt.map(g => Seq(g.as("group"))).getOrElse(Nil)
    val keys = groupOpt.map(_ => Seq(col("group"))).getOrElse(Nil)
    val g = kept
      .select(groupSel ++ Seq(sKey.as("s"),
        label.cast("boolean").cast("long").as("__p")): _*)
      .groupBy(keys :+ col("s"): _*)
      .agg(count(lit(1)).as("n"), sum(col("__p")).as("n_pos"))
    val desc = (groupOpt match {
      case Some(_) => Window.partitionBy(col("group"))
      case None => Window.partitionBy()
    }).orderBy(col("s").desc)
    val cum = desc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = desc.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val slice = groupOpt.map(_ =>
      concat(lit(" in group "), col("group").cast("string")))
      .getOrElse(lit(""))
    g.withColumn("cum_n", sum(col("n")).over(cum))
      .withColumn("cum_pos", sum(col("n_pos")).over(cum))
      .withColumn("__tot_pos", sum(col("n_pos")).over(full))
      // zero positives anywhere (in the slice, for the grouped face) →
      // AP undefined; raise on every row of that slice — as a FILTER,
      // never a projected column, so no downstream projection can
      // column-prune the guard away (the aucCore rule)
      .filter(
        when(col("__tot_pos") === 0,
          raise_error(concat(lit("prCurveReport: no positive labels"),
            slice, lit(" — precision–recall undefined"))).cast("boolean"))
          .otherwise(lit(true)))
      .withColumn("prec_ppm",
        expr("CAST(CAST(cum_pos AS DECIMAL(38,0)) * 1000000 DIV cum_n AS BIGINT)"))
      .withColumn("recall_ppm",
        expr("CAST(CAST(cum_pos AS DECIMAL(38,0)) * 1000000 DIV __tot_pos AS BIGINT)"))
      .withColumn("__term",
        expr("CAST(CAST(n_pos AS DECIMAL(38,0)) * cum_pos * 1000000 " +
          "DIV (CAST(__tot_pos AS DECIMAL(38,0)) * cum_n) AS BIGINT)"))
      .withColumn("ap_ppm", sum(col("__term")).over(cum))
      .select(keys ++ Seq(col("s"), col("n"), col("n_pos"), col("cum_n"),
        col("cum_pos"), col("prec_ppm"), col("recall_ppm"),
        col("ap_ppm")): _*)
      .orderBy(keys :+ col("s").desc: _*)
  }

  /** Per-group equi-width histogram — the corpus-audit primitive (length/
    * score distributions per source before and after every curation
    * step). `nBins` bins over [lo, hi); values below lo clamp into bin 0,
    * at-or-above hi into bin nBins−1 (out-of-range data is SHOWN at the
    * edges, not dropped — a spike at an edge bin is the audit signal
    * that the range is wrong); NULL values are excluded. Emits one row
    * per OCCUPIED (group, bin) with the bin's [lo, hi) edges and exact
    * count. Bin ids are `floor((v−lo)/(hi−lo)·nBins)` clamped — one
    * fixed-order IEEE expression, oracle-portable (q80).
    *
    * Plan: one map-side-combined hash agg on (group, bin) — cardinality
    * ≤ groups·nBins, broadcast-size output at any corpus scale. */
  def histogram(df: DataFrame, group: Column, value: Column,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins > 0, s"nBins must be positive; got $nBins")
    require(lo < hi, s"need lo < hi; got [$lo, $hi)")
    val v = value.cast("double")
    val bin = least(lit(nBins - 1), greatest(lit(0),
      floor((v - lit(lo)) / lit(hi - lo) * lit(nBins)).cast("int")))
    df.filter(v.isNotNull)
      .groupBy(group.as("group"), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("group"), col("bin"),
        (lit(lo) + col("bin").cast("double") * lit((hi - lo)) / lit(nBins))
          .as("bin_lo"),
        (lit(lo) + (col("bin") + 1).cast("double") * lit((hi - lo)) / lit(nBins))
          .as("bin_hi"),
        col("n"))
  }

  /** Cumulative contribution report — "which sources make up the top 90%
    * of the corpus": per-group exact totals of `weight` (e.g. token
    * counts), ranked descending, with each group's integer-ppm share and
    * RUNNING cumulative share. The budget-allocation view every mixture
    * decision starts from; all arithmetic is exact (long totals, the
    * ppm shares via decimal(38,0) so `w * 1e6` cannot overflow a long —
    * token-count weights at corpus scale exceed 9.2e12, the point where
    * long `w * 1000000` silently wraps), oracle-portable (q81). One agg
    * + one |groups|-row window — the window sorts group TOTALS, never
    * corpus rows. */
  def contributionReport(df: DataFrame, group: Column,
      weight: Column): DataFrame = {
    val totals = df.groupBy(group.as("group"))
      .agg(sum(weight.cast("long")).as("w"))
    val grand = totals.agg(sum(col("w")).as("__t"))
    totals.crossJoin(broadcast(grand))
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("w"), col("group"))))
      .withColumn("share_ppm",
        expr("(cast(w as decimal(38,0)) * 1000000) div __t"))
      .withColumn("cum_ppm", expr("(cast(sum(w) OVER (ORDER BY w DESC, " +
        "group ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "as decimal(38,0)) * 1000000) div __t"))
      .select(col("group"), col("w"), col("rank"), col("share_ppm"),
        col("cum_ppm"))
  }

  /** Corpus drift report between two snapshots of one population — the
    * audit that catches "this week's crawl has a different language /
    * source / event mix than last week's" before the shift poisons a
    * training run. Per category (null-safe — a NULL category is a
    * category like any other): exact counts in both snapshots (absent
    * = 0), each snapshot's integer-ppm share, the share delta, and the
    * chi-square drift contribution `(n_cur − exp)² / exp` against the
    * baseline mix, with `exp = total_cur · n_base / total_base` (NULL
    * for categories NEW in the current snapshot — no smoothing constant
    * is invented; a new category is its own signal, `delta_ppm ==
    * cur_ppm`). An EMPTY snapshot yields NULL shares (a share of
    * nothing is undefined — the counts still report; spec'd) rather
    * than an ANSI division error. Sum `chi2_contrib` for the classic
    * statistic; quantize
    * each contribution to micros first when the sum itself must be
    * order-free exact (q107 gates the per-category micros — the k-means
    * integer-quantization trade).
    *
    * Plan: one map-side-combined hash agg per snapshot (the shuffle
    * moves category-cardinality rows per task, never the corpus — and
    * each corpus is scanned exactly ONCE: the totals come from a
    * single-partition window over the already-catalog-sized join, not
    * from a second aggregation of the same lineage, which would
    * re-execute both corpus scans), then a full-outer join of two
    * catalog-sized aggregates — output stays catalog-sized at any
    * corpus scale. */
  /** Two-proportion lift report — the A/B readout "which variants beat
    * the control, and is the difference real": per variant, trials n,
    * successes k, the exact integer-ppm rate, the exact ppm rate
    * DIFFERENCE vs the named `baseline` variant, and the pooled
    * two-proportion z-score z = (p₁−p₀)/√(p̂(1−p̂)(1/n₁+1/n₀)) in
    * micros. The baseline's own row reports its rate with NULL
    * lift/z (it has no comparison); a missing or empty baseline
    * variant fails LOUDLY (an empty report reads as "no winners" —
    * raise_error, not silence); degenerate pooled rates (p̂ ∈ {0, 1} →
    * zero standard error) have NULL z, never a divide; NULL variants
    * drop, a NULL success is a FAILED trial only if you say so
    * upstream — here it drops (an unobserved outcome is not a trial).
    *
    * Portability: n/k/rate_ppm/diff_ppm are exact integers; z is the
    * stated 9-op IEEE chain on exact integer inputs (three divides,
    * the pooled product, sqrt, final divide — identical on both
    * engines), quantized to micros with floor. Plan: one
    * map-side-combined agg to variant grain (the corpus's only
    * shuffle), then the 1-row baseline stats broadcast-cross back (the
    * q35/q70 shape) — output is variant-catalog-sized. */
  def proportionLift(df: DataFrame, variant: Column, success: Column,
      baseline: String): DataFrame = {
    val stats = df.select(variant.as("variant"),
        success.cast("boolean").as("__s"))
      .filter(col("variant").isNotNull && col("__s").isNotNull)
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"),
        sum(col("__s").cast("long")).as("k"))
    val base = stats.filter(col("variant") === lit(baseline))
      .agg(coalesce(max(col("n")), lit(0L)).as("__n0"),
        coalesce(max(col("k")), lit(0L)).as("__k0"))
      .select(when(col("__n0") === 0, raise_error(lit(
          s"proportionLift: baseline variant '$baseline' has no trials")))
        .otherwise(col("__n0")).as("__n0"), col("__k0"))
    stats.crossJoin(broadcast(base))
      .withColumn("rate_ppm", expr("k * 1000000L div n"))
      .withColumn("__isBase", col("variant") === lit(baseline))
      .withColumn("__p1", col("k").cast("double") / col("n"))
      .withColumn("__p0", col("__k0").cast("double") / col("__n0"))
      .withColumn("__ph", (col("k") + col("__k0")).cast("double") /
        (col("n") + col("__n0")))
      .withColumn("__se2", col("__ph") * (lit(1.0) - col("__ph")) *
        (lit(1.0) / col("n") + lit(1.0) / col("__n0")))
      .select(col("variant"), col("n"), col("k"), col("rate_ppm"),
        when(!col("__isBase"),
          col("rate_ppm") - expr("__k0 * 1000000L div __n0"))
          .as("diff_ppm"),
        when(!col("__isBase") && col("__se2") > 0,
          floor((col("__p1") - col("__p0")) / sqrt(col("__se2")) *
            lit(1000000.0)).cast("long")).as("z_us"))
  }

  /** Categorical association (chi-square + Cramér's V) between two
    * columns — the profiling answer to "are these metadata fields
    * redundant or independent" (lang × source, domain × license):
    * builds the full contingency grid INCLUDING zero-observed cells
    * (a structurally-empty cell still contributes its expected count —
    * dropping them understates chi² exactly where association is
    * strongest), chi² = Σ (n_ij − e_ij)²/e_ij with e_ij = n_i·n_j/N,
    * and V = √(χ²/(N·(min(r,c)−1))) ∈ [0,1] so tables of different
    * sizes compare. Output is ONE row: (n, r, c, chi2_us, v_us).
    *
    * Portability: per-cell contributions quantize to exact integer
    * micros BEFORE summing (a float SUM aggregate is order-dependent —
    * the k-means integer trade, so chi2_us is order-free exact), e_ij
    * is the 2-op IEEE chain CAST(nᵢ AS DOUBLE)·nⱼ/N on exact integers
    * (nᵢ·nⱼ in integers would overflow at corpus scale), and V is a
    * 4-op stated chain on the exact chi2_us — identical on both
    * engines. A single-category axis has no V (min(r,c)−1 = 0 → NULL,
    * never a divide; chi² is 0 there by construction). NULL categories
    * are REAL categories (the q107 contract — null-safe joins
    * throughout).
    *
    * Plan: one map-side-combined agg to the contingency table (the
    * corpus's only shuffle, cell-grain), marginals as catalog-sized
    * aggs of the CELLS (the corpus is not re-read), the r×c grid via a
    * catalog² cross join + null-safe left join back, 1-row totals
    * broadcast — everything after the first agg is catalog-sized at
    * 100 TB. */
  def categoricalAssociation(df: DataFrame, a: Column,
      b: Column): DataFrame = {
    val cells = df.select(a.as("__a"), b.as("__b"))
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__n"))
    val ra = cells.groupBy(col("__a")).agg(sum(col("__n")).as("__na"))
    val cb = cells.groupBy(col("__b")).agg(sum(col("__n")).as("__nb"))
    // __tot, not __N: Spark resolution is case-INSENSITIVE, so a __N
    // beside the cell count __n is an ambiguous reference (the q116
    // "__N silently meets __n" catch, now a compile-shape error here)
    val tots = ra.agg(count(lit(1)).as("__r"),
        sum(col("__na")).as("__tot"))
      .crossJoin(cb.agg(count(lit(1)).as("__c")))
    val grid = ra.select(col("__a").as("__ka"), col("__na"))
      .crossJoin(cb.select(col("__b").as("__kb"), col("__nb")))
      .join(cells, col("__ka") <=> col("__a") &&
        col("__kb") <=> col("__b"), "left")
      .select(col("__na"), col("__nb"),
        coalesce(col("__n"), lit(0L)).as("__obs"))
      .crossJoin(broadcast(tots))
      .withColumn("__e",
        col("__na").cast("double") * col("__nb") / col("__tot"))
      .withColumn("__cu", floor((col("__obs") - col("__e")) *
        (col("__obs") - col("__e")) / col("__e") * lit(1000000.0))
        .cast("long"))
    grid.groupBy(col("__tot"), col("__r"), col("__c"))
      .agg(sum(col("__cu")).as("chi2_us"))
      .select(col("__tot").as("n"), col("__r").as("r"),
        col("__c").as("c"), col("chi2_us"),
        when(least(col("__r"), col("__c")) > 1,
          floor(sqrt((col("chi2_us").cast("double") / lit(1000000.0)) /
            (col("__tot").cast("double") *
              (least(col("__r"), col("__c")) - 1))) * lit(1000000.0))
            .cast("long")).as("v_us"))
  }

  /** k-anonymity / l-diversity audit — the release-governance check a
    * dataset runs before rows with quasi-identifiers leave the tenant:
    * group by the quasi-identifier columns, then one summary row of
    * exact integers — group count, total rows, groups smaller than `k`
    * (k-anonymity violations) and the rows inside them (re-identifiable
    * mass), the smallest group, groups whose SENSITIVE column shows
    * fewer than `l` distinct values (l-diversity violations — a
    * homogeneous group leaks the attribute even at size ≥ k), and the
    * smallest diversity. NULL quasi values form their own groups
    * (standard GROUP BY on both engines — NULL is a disclosable value);
    * NULL sensitive values carry no diversity (COUNT DISTINCT ignores
    * them, both engines). Everything integer → hash-gates (q143).
    *
    * Plan: ONE map-side-combined agg on the quasi key (count + exact
    * count-distinct) and one 1-row reduce — the cheapest possible audit
    * at any scale; a hot quasi-combo is one AQE partition. */
  def kAnonymityReport(df: DataFrame, quasi: Seq[Column],
      sensitive: Column, k: Int, l: Int): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1, s"k must be >= 1; got $k")
    require(l >= 1, s"l must be >= 1; got $l")
    val g = df.groupBy(quasi: _*)
      .agg(count(lit(1)).as("__n"),
        countDistinct(sensitive).as("__l"))
    g.agg(
      count(lit(1)).as("n_groups"),
      sum(col("__n")).as("n_rows"),
      sum(when(col("__n") < k, 1L).otherwise(0L)).as("k_violations"),
      sum(when(col("__n") < k, col("__n")).otherwise(lit(0L)))
        .as("rows_at_risk"),
      min(col("__n")).as("min_group_size"),
      sum(when(col("__l") < l, 1L).otherwise(0L)).as("l_violations"),
      min(col("__l")).as("min_l"))
  }

  def corpusDrift(base: DataFrame, cur: DataFrame,
      category: Column): DataFrame = {
    val b = base.groupBy(category.as("category"))
      .agg(count(lit(1)).as("n_base"))
    val c = cur.groupBy(category.as("category"))
      .agg(count(lit(1)).as("n_cur"))
    val j = b.join(c, b("category") <=> c("category"), "full_outer")
      .select(coalesce(b("category"), c("category")).as("category"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val all = Window.partitionBy(lit(1))
    // an EMPTY snapshot has no mix to take a share of: its ppm columns
    // (and everything derived from them) are NULL rather than a
    // DIVIDE_BY_ZERO under ANSI mode — the degenerate all-new /
    // all-vanished report still carries the exact counts
    j.withColumn("__tb", sum("n_base").over(all))
      .withColumn("__tc", sum("n_cur").over(all))
      .withColumn("base_ppm", expr(
        "CASE WHEN __tb > 0 THEN " +
          "(cast(n_base as decimal(38,0)) * 1000000) div __tb END"))
      .withColumn("cur_ppm", expr(
        "CASE WHEN __tc > 0 THEN " +
          "(cast(n_cur as decimal(38,0)) * 1000000) div __tc END"))
      .withColumn("delta_ppm", col("cur_ppm") - col("base_ppm"))
      .withColumn("__exp",
        col("__tc").cast("double") * col("n_base") / col("__tb"))
      .withColumn("chi2_contrib",
        when(col("n_base") > 0 && col("__tc") > 0,
          (col("n_cur") - col("__exp")) * (col("n_cur") - col("__exp"))
            / col("__exp")))
      .drop("__tb", "__tc", "__exp")
  }

  /** Reciprocal-rank fusion — the standard hybrid-retrieval combiner
    * (BM25 ⊕ dense ANN ⊕ static priors) that needs NO score calibration
    * because it consumes only RANKS: each input list contributes
    * 1/(kRrf + rank) per (query, doc) and the fused score is the sum —
    * a doc several retrievers agree on beats a doc one retriever loves,
    * with `kRrf` (classically 60) damping the head. Every input must be
    * a per-query ranking with columns (query_id, doc_id, rank) and one
    * row per (query, doc) per list — a duplicated doc within one list
    * would double-count by construction (the ranking contract, not a
    * silent dedup).
    *
    * Hash-portable by the q112 recipe: each contribution is one IEEE
    * divide of exact integers, and the per-(query, doc) sum is a fold
    * in LIST-INDEX order (collect the ≤ |rankings| contributions, sort
    * by source index, fold) — never a float SUM aggregate. Final ranks
    * tie-break (score desc, doc_id asc), exact.
    *
    * Plan: union of the (already small — each list is a per-query
    * top-k) inputs, ONE hash agg on (query, doc), one per-query window —
    * everything is ranking-sized, the corpus never appears. */
  def rrfFuse(rankings: Seq[DataFrame], topK: Int,
      kRrf: Long = 60L): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(topK >= 1, s"topK must be >= 1; got $topK")
    require(kRrf >= 1, s"kRrf must be >= 1; got $kRrf")
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("doc_id"), lit(i).as("__src"),
        (lit(1.0) / (col("rank") + lit(kRrf)).cast("double")).as("__c"))
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("rrf"), col("doc_id"))
    // List-index-order fold, slot form (r21): one codegen'd conditional
    // SUM per input list replaces the object-mode collect_list +
    // sort_array + fold. Bitwise equal under the ranking contract (one
    // row per (query, doc) per list — each slot sum covers at most one
    // row); slots fold in list-index order, every contribution is a
    // positive finite double, and x + 0.0 == x exactly, so an absent
    // list is the identity. The list count is STATIC (rankings.size) —
    // no data-dependent plan. On out-of-contract input (a doc duplicated
    // within one list) both forms double-count; only the addend order
    // within the offending list differs.
    val slots = rankings.indices.map(i =>
      sum(when(col("__src") === i, col("__c"))).as(s"__s$i"))
    tagged.reduce(_ unionAll _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(slots.head, slots.tail: _*)
      .withColumn("rrf", rankings.indices.foldLeft(lit(0.0)) {
        (acc, i) => acc + coalesce(col(s"__s$i"), lit(0.0)) })
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("rank"), col("rrf"))
  }

  /** Per-group Pearson correlation matrix over pre-quantized LONG metric
    * columns — the data-profiling step that surfaces redundant or
    * entangled quality signals before they mislead a mixture plan (two
    * scores at ρ ≈ 1 are one signal counted twice). Values must already
    * be integer-exact (the caller quantizes doubles with the portable
    * `floor(x·10^s)` idiom); all moment sums then run in decimal(38,0) —
    * EXACT, order-free, so the whole statistic is reproducible run to
    * run and hash-portable engine to engine: ρ's numerator n·Sxy − Sx·Sy
    * and variance terms are exact integers, and only the final
    * ratio/sqrt is a three-op IEEE chain on identically-rounded doubles
    * (the float-sum covariance of textbook one-pass formulas is
    * order-dependent and could never gate). NULL handling is pairwise-
    * complete: each pair's stats count only rows where BOTH values are
    * present. `corr` is NULL for a degenerate pair (either variance 0,
    * e.g. a constant column, or n = 0) — never NaN, never ±∞.
    *
    * Output: one row per (grp, col_a, col_b), col_a < col_b by the
    * caller's `values` order, with n (pairwise count) and corr.
    *
    * Plan: ONE map-side-combined hash aggregate computes every pair's
    * five moments in a single corpus pass (C(m,2)·5 agg expressions —
    * m is a handful of metrics by contract, so tens of counters per
    * task, model-sized); the grouped result is group-cardinality-sized
    * and the pair rows `inline` out of it narrow — the corpus shuffles
    * ONCE, group-keyed, at any scale (q80/q81 posture). */
  def corrMatrix(df: DataFrame, group: Column,
      values: Seq[(String, Column)]): DataFrame = {
    require(values.size >= 2,
      s"corrMatrix needs at least two value columns; got ${values.size}")
    require(values.map(_._1).distinct.size == values.size,
      "corrMatrix value names must be distinct")
    val names = values.map(_._1)
    // internal columns are keyed by INDEX, not by the caller's names —
    // a name containing '_' or '.' can neither collide two pairs'
    // accumulators nor break col() resolution (review r16: name-spliced
    // "__n_${a}_$b" made ("a","b_c") and ("a_b","c") ambiguous)
    val base = df.select(
      (group.as("grp") +: values.zipWithIndex.map { case ((_, c), i) =>
        c.cast("long").as(s"__v_$i") }): _*)
    val pairs = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield (i, j)
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    // row-grain products multiply as LONGS (codegen'd; exact while
    // |v| < ~3.03e9 — ANSI mode makes a wider value fail LOUDLY with
    // ARITHMETIC_OVERFLOW, never wrap; rescale the quantization if your
    // metrics are that wide) and only the cross-row SUM accumulates in
    // decimal(38,0) — the all-decimal product form was measured 2.4×
    // slower (BigDecimal multiply per row per moment)
    def dec38(c: Column): Column = c.cast("decimal(38,0)")
    val aggs = pairs.flatMap { case (i, j) =>
      val va = col(s"__v_$i"); val vb = col(s"__v_$j")
      val both = va.isNotNull && vb.isNotNull
      Seq(
        sum(when(both, lit(1L))).as(s"__n_${i}_$j"),
        sum(when(both, dec(va))).as(s"__sx_${i}_$j"),
        sum(when(both, dec(vb))).as(s"__sy_${i}_$j"),
        sum(when(both, dec38(va * vb))).as(s"__sxy_${i}_$j"),
        sum(when(both, dec38(va * va))).as(s"__sxx_${i}_$j"),
        sum(when(both, dec38(vb * vb))).as(s"__syy_${i}_$j"))
    }
    val rows = pairs.map { case (i, j) =>
      val n = coalesce(col(s"__n_${i}_$j"), lit(0L))
      val nd = dec(n)
      val num = nd * col(s"__sxy_${i}_$j") -
        col(s"__sx_${i}_$j") * col(s"__sy_${i}_$j")
      val dx = nd * col(s"__sxx_${i}_$j") -
        col(s"__sx_${i}_$j") * col(s"__sx_${i}_$j")
      val dy = nd * col(s"__syy_${i}_$j") -
        col(s"__sy_${i}_$j") * col(s"__sy_${i}_$j")
      struct(lit(names(i)).as("col_a"), lit(names(j)).as("col_b"), n.as("n"),
        when(dx > 0 && dy > 0,
          num.cast("double") /
            (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))))
          .as("corr"))
    }
    base.groupBy(col("grp")).agg(aggs.head, aggs.tail: _*)
      .select(col("grp"), inline(array(rows: _*)))
  }

  // --------------------------------------------------- per-key trend

  /** Per-key linear trend (OLS slope + intercept) over caller-quantized
    * INTEGER coordinates — "is this user's metric drifting up or
    * down" at corpus scale: slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²),
    * intercept = (Σy·Σx² − Σx·Σxy)/same, emitted as EXACT micro-unit
    * integers: `sign · (|numerator|·10⁶ div denominator)` — sign split
    * out so the one integral division runs on non-negative operands
    * (where Spark's truncating `div` and DuckDB's flooring `//`
    * agree; the q89 precedent). Keys with zero x-variance (single
    * point, or all x equal) have no defined line → NULL slope and
    * intercept, n still reported. NULL x or y drops the row up front.
    *
    * Exactness posture = [[corrMatrix]]: row-grain products multiply
    * as LONGS (codegen'd; exact while |v| < ~3.03e9 — ANSI makes a
    * wider value fail LOUDLY, never wrap; rescale the quantization if
    * your metrics are that wide), only cross-row sums accumulate in
    * decimal(38,0). Plan: one map-side-combined hash agg on key — the
    * minimum possible; everything after is per-key scalar math. */
  def groupTrend(df: DataFrame, key: Column, x: Column, y: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    def dec38(c: Column): Column = c.cast("decimal(38,0)")
    val d = df.select(key.as("__k"), x.cast("long").as("__x"),
        y.cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val nd = dec(col("n"))
    d.groupBy(col("__k").as("key")).agg(
        count(lit(1)).as("n"),
        sum(dec(col("__x"))).as("__sx"), sum(dec(col("__y"))).as("__sy"),
        sum(dec38(col("__x") * col("__y"))).as("__sxy"),
        sum(dec38(col("__x") * col("__x"))).as("__sxx"))
      .withColumn("__num", nd * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__bnum",
        col("__sy") * col("__sxx") - col("__sx") * col("__sxy"))
      .withColumn("__den", nd * col("__sxx") - col("__sx") * col("__sx"))
      .selectExpr("key", "n",
        """CASE WHEN __den > 0 THEN
             (CASE WHEN __num < 0 THEN -1L ELSE 1L END) *
             ((abs(__num) * 1000000) div __den) END AS slope_us""",
        """CASE WHEN __den > 0 THEN
             (CASE WHEN __bnum < 0 THEN -1L ELSE 1L END) *
             ((abs(__bnum) * 1000000) div __den) END AS icept_us""")
  }

  // ------------------------------------------------- score calibration

  /** Per-group quantile normalization — cross-source score CALIBRATION:
    * replaces each row's raw score with its quantile rank inside its own
    * group (`percent_rank` = (rank−1)/(n−1) ∈ [0,1]), so scores from
    * sources with different scales/distributions become comparable and a
    * single global threshold means the same thing everywhere — the step
    * before any cross-source quality cut ([[topQuantileFilter]] keeps
    * per-stratum thresholds instead; this rewrites the scores
    * themselves). Ties share a rank (equal raw scores get equal
    * normalized scores — deterministic with no tiebreak), single-row
    * groups normalize to 0.0, NULL scores stay NULL and consume no rank.
    * The arithmetic is one integer ratio in IEEE double — exact, so the
    * output is oracle-portable (q79).
    *
    * Plan: one window shuffle on the group key (the irreducible cost of
    * exact ranks); the GK-sketch alternative for hot groups is the same
    * trade [[topQuantileFilterApprox]] documents. */
  /** Per-group WEIGHTED quantiles — the statistic plain `percentile`
    * silently gets wrong when rows carry unequal mass (the
    * token-weighted median quality of a corpus is NOT the median of
    * per-doc scores; a 100k-token doc is 100k tokens of training
    * signal, not one vote): for each requested q (as ppm), the
    * smallest value v with W(≤ v) ≥ ⌈q · W / 10⁶⌉ — the lower
    * weighted quantile over cumulative mass, the textbook definition
    * stated with EXACT integer thresholds (decimal(38,0) products, so
    * q·W never overflows at corpus mass). Weights are CALLER-QUANTIZED
    * positive integers (token counts, bytes, exact cents); a NEGATIVE
    * weight fails LOUDLY (negative mass corrupts every cumulative sum
    * silently — raise_error, not a contract footnote), NULL value or
    * NULL/zero weight rows drop (massless rows hold no quantile mass —
    * stated), and a group whose rows all drop vanishes from the
    * output. Value ties are handled by the RANGE cumulative frame
    * (every row of value v sees the full W(≤ v)) — both engines'
    * DEFAULT ordered-window frame, so tie behavior is identical by
    * construction, with no tiebreak column needed.
    *
    * Plan: ONE shuffle on group, then two window passes over the SAME
    * (group, value-asc) sort — the running mass and the group total —
    * and one map-side-combined agg per (group); quantiles come from a
    * conditional-min per requested q (one agg column each, no
    * explosion); output is groups × |qs| rows. */
  def weightedQuantiles(df: DataFrame, group: Column, value: Column,
      weight: Column, qsPpm: Seq[Long]): DataFrame = {
    require(qsPpm.nonEmpty, "qsPpm must name at least one quantile")
    require(qsPpm.forall(q => q >= 0 && q <= 1000000),
      s"each q must be in [0, 1000000] ppm; got $qsPpm")
    val w = when(weight < 0, raise_error(concat(
        lit("weightedQuantiles: negative weight "),
        weight.cast("string"), lit(" — mass must be >= 0"))))
      .otherwise(weight.cast("long"))
    val base = df.select(group.as("group"), value.as("__v"), w.as("__w"))
      .filter(col("group").isNotNull && col("__v").isNotNull &&
        col("__w").isNotNull && col("__w") > 0)
    // default ordered frame = RANGE UNBOUNDED PRECEDING..CURRENT ROW on
    // both engines: tie rows share the full cumulative mass W(<= v)
    val win = Window.partitionBy(col("group")).orderBy(col("__v"))
    val tot = Window.partitionBy(col("group"))
    val marked = base
      .withColumn("__cw", sum(col("__w")).over(win).cast("decimal(38,0)"))
      .withColumn("__tw", sum(col("__w")).over(tot).cast("decimal(38,0)"))
    val aggs = qsPpm.zipWithIndex.map { case (q, i) =>
      min(when(col("__cw") * lit(1000000L) >= col("__tw") * lit(q),
        col("__v"))).as(s"__p$i")
    }
    val allAggs = max(col("__tw")).cast("long").as("w_total") +: aggs
    val rolled = marked.groupBy(col("group"))
      .agg(allAggs.head, allAggs.tail: _*)
    rolled.select(col("group"), col("w_total"),
        posexplode(array(qsPpm.zipWithIndex.map { case (q, i) =>
          struct(lit(q).as("q_ppm"), col(s"__p$i").as("wq"))
        }: _*)))
      .select(col("group"), col("col.q_ppm").as("q_ppm"),
        col("col.wq").as("wq"), col("w_total"))
  }

  /** Histogram-refined weighted quantiles — the SKETCH TIER of
    * [[weightedQuantiles]] for hot groups, and still EXACT: the q70b
    * [[heavyHittersSketch]] pattern (bounded summary finds candidates →
    * one exact pass over just the candidates) applied to rank selection
    * instead of frequency. Same contract and output schema as the exact
    * tier (values are CALLER-QUANTIZED integers — the q129 posture;
    * negative weight fails loudly; NULL/zero-mass rows drop), and
    * BIT-EQUAL to it by construction, so the same DuckDB oracle gates
    * both (q137 == q129's oracle).
    *
    * How: (1) one map-side-combined agg takes each group's (min, max,
    * total mass); (2) every row gets an EXACT-INTEGER bucket id
    * ((v−min)·B div (max−min+1) ∈ [0, B), decimal(38,0) arithmetic —
    * monotone in v, tie values share a bucket by construction) and one
    * map-side-combined agg builds the G·B-row mass histogram; (3) for
    * each requested q the smallest bucket whose cumulative mass crosses
    * ⌈q·W/10⁶⌉ must contain the answer (W(≤v) is monotone and the
    * crossing bucket brackets the threshold), so (4) ONE exact
    * cumulative-mass window runs over just that bucket's rows (expected
    * mass W/B per quantile), offset by the preceding buckets' exact
    * cumulative mass. A group whose values all tie collapses to one
    * bucket and the refinement degenerates to the exact tier over that
    * group — correct, merely not cheaper (stated).
    *
    * Scale shape: the exact tier's irreducible cost is a FULL per-group
    * sort shuffle of the corpus; this tier replaces it with three
    * corpus scans that shuffle only O(G) stats, O(G·B) histogram rows,
    * and the ~|qs|·W/B refinement slice — at 100 TB with hot groups
    * (one group = one executor's sort spill) that trade wins by the
    * ratio corpus/Σ(slices). Below that, prefer the exact tier's single
    * shuffle. */
  def weightedQuantilesHist(df: DataFrame, group: Column, value: Column,
      weight: Column, qsPpm: Seq[Long], buckets: Int = 4096): DataFrame = {
    require(qsPpm.nonEmpty, "qsPpm must name at least one quantile")
    require(qsPpm.forall(q => q >= 0 && q <= 1000000),
      s"each q must be in [0, 1000000] ppm; got $qsPpm")
    require(buckets >= 2, s"buckets must be >= 2; got $buckets")
    val w = when(weight < 0, raise_error(concat(
        lit("weightedQuantilesHist: negative weight "),
        weight.cast("string"), lit(" — mass must be >= 0"))))
      .otherwise(weight.cast("long"))
    val base = df.select(group.as("group"), value.cast("long").as("__v"),
        w.as("__w"))
      .filter(col("group").isNotNull && col("__v").isNotNull &&
        col("__w").isNotNull && col("__w") > 0)
    // pass 1: per-group range + total mass (map-side combined, O(G)
    // rows). localCheckpoint materializes the tiny frame ONCE — without
    // it every broadcast of stats/cand below re-runs its full
    // corpus-scan lineage (measured: the un-checkpointed plan ran the
    // lineitem scan five times). It anchors the lazy result and takes
    // no scalars, so it stays outside a `Checkpoints` scope: the
    // ContextCleaner frees its blocks once the result is dropped.
    val stats = base.groupBy(col("group")).agg(
        min(col("__v")).as("__vmin"), max(col("__v")).as("__vmax"),
        sum(col("__w")).cast("decimal(38,0)").as("__tw"))
      .localCheckpoint()
    // exact-integer bucket id, identical expression in both passes.
    // Fast path: plain long `div` (codegen'd) whenever (max−min)·B
    // cannot overflow a long — i.e. range < 2⁶³/B, every realistic
    // quantized domain; the decimal(38,0) path is the exact fallback
    // for astronomically wide ranges. Both branches compute the same
    // floor-division bucketing, so the choice is invisible. The RANGE
    // ITSELF is computed in decimal(38,0): a group spanning more than
    // Long.MaxValue (e.g. Long.MinValue..Long.MaxValue) would wrap a
    // long `__vmax - __vmin` to a NEGATIVE, silently pass the fast-path
    // guard, and divide by a negative — non-monotone bucket ids in
    // exactly the regime the fallback exists for (r17 ADVICE).
    def bucketId = {
      val dec = "decimal(38,0)"
      val rangeDec = col("__vmax").cast(dec) - col("__vmin").cast(dec)
      when(rangeDec <= lit(Long.MaxValue / buckets - 1).cast(dec),
        expr(s"((__v - __vmin) * $buckets) div (__vmax - __vmin + 1)"))
        .otherwise(((col("__v").cast(dec) - col("__vmin").cast(dec)) *
          lit(buckets).cast(dec))
          .divide(rangeDec + lit(1).cast(dec))
          .cast("long"))
    }
    def withB = base.join(broadcast(stats), Seq("group"))
      .withColumn("__b", bucketId)
    // pass 2: bucket-mass histogram (map-side combined, O(G·B) rows,
    // checkpointed — the candidate search below must not re-scan)
    val hist = withB.groupBy(col("group"), col("__b"))
      .agg(sum(col("__w")).cast("decimal(38,0)").as("__bw"),
        max(col("__tw")).as("__tw"))
      .localCheckpoint()
    val cum = hist.withColumn("__cb",
      sum(col("__bw")).over(
        Window.partitionBy(col("group")).orderBy(col("__b"))))
    // candidate bucket per (group, q): the first cumulative crossing —
    // min(struct) carries the crossing bucket's own and preceding mass
    val qlit = explode(array(qsPpm.map(q => lit(q)): _*)).as("q_ppm")
    val cand = cum.select(col("group"), col("__b"), col("__bw"),
        col("__cb"), col("__tw"), qlit)
      .filter(col("__cb") * lit(1000000L) >= col("__tw") * col("q_ppm"))
      .groupBy(col("group"), col("q_ppm"))
      .agg(min(struct(col("__b"), col("__cb"), col("__bw"),
        col("__tw"))).as("__c"))
      .select(col("group"), col("q_ppm"), col("__c.__b").as("__bstar"),
        (col("__c.__cb") - col("__c.__bw")).as("__off"),
        col("__c.__tw").as("__twq"))
    // pass 3: exact refinement over just the candidate buckets' rows
    // (a row serves every q whose candidate bucket it falls in)
    val candK = cand.withColumnRenamed("group", "__cg")
      .withColumnRenamed("__bstar", "__cb2")
    val need = withB.select(col("group"), col("__v"), col("__w"), col("__b"))
      .join(broadcast(candK),
        col("group") === col("__cg") && col("__b") === col("__cb2"))
      .drop("__cg", "__cb2")
    val rwin = Window.partitionBy(col("group"), col("q_ppm"))
      .orderBy(col("__v")) // RANGE default frame: ties share W(<= v)
    need.withColumn("__cw", sum(col("__w")).over(rwin).cast("decimal(38,0)"))
      .groupBy(col("group"), col("q_ppm"))
      .agg(
        min(when((col("__off") + col("__cw")) * lit(1000000L) >=
          col("__twq") * col("q_ppm"), col("__v"))).as("wq"),
        max(col("__twq")).cast("long").as("w_total"))
      .select(col("group"), col("q_ppm").cast("long").as("q_ppm"),
        col("wq"), col("w_total"))
  }

  /** Per-group equal-frequency binning (quantile discretization) — the
    * featurization step "bucket this score into deciles within its own
    * source": each non-null row gets bin ∈ 1..nBins via the exact
    * integer formula bin = ((rank−1)·nBins) div n + 1 over the total
    * (value, tiebreak) order — near-equal bin sizes (they differ by at
    * most one), fully deterministic under ties because the CALLER
    * names the tiebreak (SQL ntile's tie placement is engine-dependent
    * row order — the reason this is not ntile), and pure integer
    * arithmetic, so assignments are engine-portable bit-for-bit. NULL
    * values keep their row with a NULL bin and consume NO rank (the
    * quantileNormalize contract — engines disagree on NULL sort
    * placement); when nBins > n some bins are simply empty (the
    * formula spreads n rows over the range with gaps — stated).
    *
    * Plan: one window shuffle on the group key serving both the rank
    * and the group count (same sort), plus the NULL-row passthrough
    * union — the irreducible cost of exact within-group ranks. */
  def quantileBin(df: DataFrame, group: Column, value: Column,
      tiebreak: Column, nBins: Int, outCol: String = "bin"): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1; got $nBins")
    // working names are reserved and outCol must be fresh: withColumn
    // would silently overwrite (and only on the non-null branch, so the
    // union would then fail obscurely) — the intervalJoin/sampleBudget
    // convention, case-insensitive like Spark's resolution
    val reserved = Set("__rn", "__gn", outCol.toLowerCase)
    val clashes = df.columns.filter(c => reserved(c.toLowerCase))
    require(clashes.isEmpty,
      s"quantileBin reserves column names __rn, __gn, $outCol; " +
        s"rename the input column(s): ${clashes.distinct.mkString(", ")}")
    val w = Window.partitionBy(group).orderBy(value.asc, tiebreak.asc)
    val wn = Window.partitionBy(group)
    df.filter(value.isNotNull)
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__gn", count(lit(1)).over(wn))
      .withColumn(outCol,
        expr(s"CAST((( __rn - 1L) * ${nBins}L) div __gn + 1L AS INT)"))
      .drop("__rn", "__gn")
      .unionByName(df.filter(value.isNull)
        .withColumn(outCol, lit(null).cast("int")))
  }

  def quantileNormalize(df: DataFrame, group: Column, value: Column,
      outCol: String = "qrank"): DataFrame = {
    // NULL scores must not CONSUME ranks (they'd shift every real row's
    // ratio, and Spark/DuckDB disagree on NULL sort order) — rank only
    // the non-null rows, pass NULL rows through with a NULL qrank.
    val w = Window.partitionBy(group).orderBy(value.asc)
    df.filter(value.isNotNull)
      .withColumn(outCol, percent_rank().over(w))
      .unionByName(df.filter(value.isNull)
        .withColumn(outCol, lit(null).cast("double")))
  }

  // ------------------------------------------------- frequent items

  /** Exact heavy hitters: every key whose share of the input is at least
    * `thrPpm` parts-per-million, with its exact count and integer-ppm
    * share. All arithmetic is integer (count · 10⁶ compares and integer
    * division), so the output is engine-portable bit-for-bit.
    *
    * Scale shape: one full hash aggregate over the key space — correct
    * but shuffle-heavy when keys are high-cardinality (token/n-gram
    * vocabularies at 100 TB); [[heavyHittersSketch]] is the tier that
    * bounds the shuffle by `capacity` instead of the vocabulary. */
  def heavyHitters(df: DataFrame, key: Column, thrPpm: Long): DataFrame = {
    require(thrPpm > 0 && thrPpm <= 1000000L,
      s"thrPpm must be in (0, 1e6]; got $thrPpm")
    val ks = df.select(key.as("key")).filter(col("key").isNotNull)
    val counts = ks.groupBy(col("key")).agg(count(lit(1)).as("n"))
    val total = ks.agg(count(lit(1)).as("__total"))
    counts.crossJoin(broadcast(total))
      .filter(col("n") * lit(1000000L) >= lit(thrPpm) * col("__total"))
      .select(col("key"), col("n"),
        expr("(n * 1000000) div __total").as("ppm"))
  }

  /** Half-life-decayed trending leaderboard — "what is hot NOW", the
    * recency-weighted complement of [[heavyHitters]]' all-time counts:
    * each observation contributes 10⁶ ppm decayed by one halving per
    * elapsed `halfLifeDays` (score = Σ 10⁶ >> (age_days div
    * halfLife) — BUCKETED exponential decay: piecewise-constant within
    * a half-life, exactly (1/2)^⌊age/h⌋ at the boundaries, and every
    * term is an integer SHIFT, so the whole leaderboard hash-gates
    * where a libm exp() never could, the q136 no-transcendentals
    * posture). The reference instant is the input's own max(ts)
    * (deterministic — same data, same board; pass a cutoff filter
    * upstream to pin a different "now"). Top-`k` by (score desc, item
    * asc) — a total order, no nondeterministic tie.
    *
    * Plan: one 1-row max(ts) agg broadcast back (the q35/q70
    * broadcast-stat shape), one map-side-combined item agg, one
    * TakeOrderedAndProject — no window, no full sort. NULL item/ts
    * rows drop up front. Shifts ≥ 63 half-lives floor to 0 (a long
    * shift of ≥ 63 — stated, an observation that old holds no signal). */
  def trendingTopK(df: DataFrame, item: Column, ts: Column,
      halfLifeDays: Int, k: Int): DataFrame = {
    require(halfLifeDays >= 1, s"halfLifeDays must be >= 1; got $halfLifeDays")
    require(k >= 1, s"k must be >= 1; got $k")
    val base = df.select(item.as("item"), unix_micros(ts).as("__t"))
      .filter(col("item").isNotNull && col("__t").isNotNull)
    val ref = base.agg(max(col("__t")).as("__ref"))
    base.crossJoin(broadcast(ref))
      .withColumn("__halves",
        least(expr("((__ref - __t) div 86400000000) div " + halfLifeDays),
          lit(63L)).cast("int"))
      .withColumn("__w", expr("shiftright(cast(1000000 as bigint), __halves)"))
      .groupBy(col("item"))
      .agg(sum(col("__w")).as("score_ppm"), count(lit(1)).as("n_events"))
      .orderBy(desc("score_ppm"), col("item"))
      .limit(k)
  }

  /** Sketch-tier heavy hitters: a [[graft.functions.MisraGries]] summary
    * finds a SUPERSET of the answer in one pass with O(capacity) state
    * per task (map-side partials, one tiny final merge — no key-space
    * shuffle), then one exact recount pass over just those candidates
    * (broadcast semi-join, ≤ `capacity` rows) makes the result EXACT.
    * Bit-equal to [[heavyHitters]] by construction — the guard below is
    * the MG superset condition thr > n/(capacity+1) expressed in ppm, so
    * no true heavy hitter can be evicted; sketch counters never reach the
    * output. Two corpus scans instead of one full-vocabulary shuffle:
    * at 100 TB vocabularies (n-grams, URLs) that trade wins by orders of
    * magnitude; below broadcast-threshold key counts, prefer the exact
    * tier's single pass. Keys must be strings (cast upstream). */
  def heavyHittersSketch(df: DataFrame, key: Column, thrPpm: Long,
      capacity: Int): DataFrame = {
    require(thrPpm > 0 && thrPpm <= 1000000L,
      s"thrPpm must be in (0, 1e6]; got $thrPpm")
    require(thrPpm * (capacity + 1L) > 1000000L,
      s"capacity $capacity too small for thrPpm=$thrPpm: need " +
        s"thrPpm·(capacity+1) > 1e6 or a true heavy hitter could be evicted")
    val ks = df.select(key.cast("string").as("key")).filter(col("key").isNotNull)
    val mg = udaf(new graft.functions.MisraGries(capacity),
      org.apache.spark.sql.Encoders.STRING)
    val cand = ks.agg(mg(col("key")).as("__s"))
      .select(explode(map_keys(col("__s"))).as("key"))
    val total = ks.agg(count(lit(1)).as("__total"))
    ks.join(broadcast(cand), Seq("key"), "left_semi")
      .groupBy(col("key")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * lit(1000000L) >= lit(thrPpm) * col("__total"))
      .select(col("key"), col("n"),
        expr("(n * 1000000) div __total").as("ppm"))
  }

}
