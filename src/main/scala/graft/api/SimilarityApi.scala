package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{CosineSim, Portable, Text}
/** similarity & ANN family: cosine/kNN, LSH, IVF, PQ/SQ tiers, k-means, MMR, layout — members of [[GraftOps]], split out of the former single
  * 6,600-line object (round 19) purely for maintainability: the trait
  * mixes back into `object GraftOps`, so every callsite, registry op,
  * and scaladoc link is untouched. The self-type makes members of the
  * other family traits visible exactly as before the split. */
private[api] trait SimilarityApi { self: GraftOps.type =>

  // ------------------------------------------------------- similarity

  /** Exact top-k cosine neighbors of each probe (probes broadcast, corpus
    * scanned once, per-probe ranking window). */
  def knn(corpus: DataFrame, probes: DataFrame, id: Column, vec: Column,
      probeId: Column, probeVec: Column, k: Int): DataFrame = {
    val p = probes.select(probeId.as("probe_id"), probeVec.as("__pv"))
    val w = Window.partitionBy(col("probe_id")).orderBy(desc("sim"), id)
    corpus.join(broadcast(p), id =!= col("probe_id"))
      .withColumn("sim", CosineSim(col("__pv"), vec))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), id.as("id"), col("rank"), col("sim"))
  }

  /** MMR (maximal-marginal-relevance) diversified re-rank — the
    * diversity step between retrieval and the user: from each query's
    * CANDIDATE list (a bounded top-N from [[knn]]/[[ivfPqTopK]]/BM25/
    * [[rrfFuse]] — never a corpus), greedily select k documents by
    * mmrᵢ(d) = λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s): the first
    * pick is pure relevance (the max over an empty set contributes 0),
    * every later pick trades relevance against similarity to what is
    * ALREADY picked — so near-duplicate hits stop crowding out
    * distinct aspects of the answer. λ arrives as ppm (1e6 = pure
    * relevance, 0 = pure diversity) via one stated division; ties
    * break (mmr desc, doc asc), fully deterministic.
    *
    * Portability: rel is caller-supplied (bit-portable when produced
    * by the q13/q112 chains), candidate–candidate cosine is the
    * sequential-fold [[graft.functions.CosineSim]], max over selected
    * is order-free exact, and the λ-combination is the same 3-op IEEE
    * chain both engines state — so every emitted mmr value is
    * bit-equal to DuckDB's recursive-CTE restatement of the same
    * greedy walk (q128). Duplicate docs within a query collapse to
    * one selection (the rrfFuse one-row-per-doc contract — state it
    * upstream); NULL doc/rel/vec rows drop up front (a candidate that
    * can't score or diversify is not a candidate).
    *
    * Plan: ONE shuffle groups each query's candidates into a task row
    * (candidate lists are top-N-bounded by construction); the whole
    * greedy walk is ONE runtime `aggregate(sequence(1, k), …)` fold
    * over the candidate array — no join, no window, no per-step
    * shuffle, and the expression tree is CONSTANT-sized in k (an
    * earlier k-unrolled-projection draft sent the analyzer into
    * minutes of single-threaded expression rewriting); output is
    * (queries × k) rows. Built for the re-rank regime (k ≲ 100), not
    * corpus scans. */
  def mmrRerank(df: DataFrame, query: Column, doc: Column, score: Column,
      vec: Column, k: Int, lambdaPpm: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    require(lambdaPpm >= 0 && lambdaPpm <= 1000000,
      s"lambdaPpm must be in [0, 1000000]; got $lambdaPpm")
    val lam = lit(lambdaPpm).cast("double") / lit(1000000.0)
    val grouped = df.select(query.as("__q"),
        struct(doc.as("d"), score.cast("double").as("r"), vec.as("v"))
          .as("__c"))
      .filter(col("__c.d").isNotNull && col("__c.r").isNotNull &&
        col("__c.v").isNotNull)
      .groupBy(col("__q"))
      .agg(sort_array(collect_list(col("__c"))).as("__cand"))
    // state = (sel: chosen candidates, out: (doc, mmr) in pick order);
    // the empty arrays are sliced from __cand so doc/vec types stay
    // generic (long or string ids, any dim)
    val emptyOut = slice(transform(col("__cand"),
      c => struct(c("d").as("d"), lit(0.0).as("m"))), 1, 0)
    val walk = aggregate(
      sequence(lit(1), lit(k)),
      struct(slice(col("__cand"), 1, 0).as("sel"), emptyOut.as("out")),
      (acc, _) => {
        val sel = acc("sel")
        val selDocs = transform(sel, s => s("d"))
        val rem = filter(col("__cand"),
          c => !array_contains(selDocs, c("d")))
        val scored = transform(rem, c => struct(
          c("d").as("d"), c("r").as("r"), c("v").as("v"),
          (lam * c("r") - (lit(1.0) - lam) * coalesce(
            array_max(transform(sel,
              s => graft.functions.CosineSim(c("v"), s("v")))),
            lit(0.0))).as("m")))
        val best = slice(array_sort(scored, (l, r) =>
          when(l("m") > r("m"), -1).when(l("m") < r("m"), 1)
            .when(l("d") < r("d"), -1).when(l("d") > r("d"), 1)
            .otherwise(0)), 1, 1)
        struct(
          concat(sel, transform(best, b => struct(b("d").as("d"),
            b("r").as("r"), b("v").as("v")))).as("sel"),
          concat(acc("out"), transform(best, b => struct(b("d").as("d"),
            b("m").as("m")))).as("out"))
      })
    grouped.select(col("__q").as("query"), posexplode(walk("out")))
      .select(col("query"), (col("pos") + 1).cast("int").as("rank"),
        col("col.d").as("doc"), col("col.m").as("mmr"))
  }

  /** IVF (inverted-file) approximate top-k similarity search.
    *
    * Cells are the per-`label` centroids (exact integer-micros means —
    * engine-portable, see SimilarityOps q21); the K-cell table is computed
    * distributed, collected (K·dim doubles, tiny — a trained-model
    * constant), and baked into ONE sorted-struct literal per row, giving
    * BOTH the corpus assignment (first cell) and each probe's `nprobe`
    * search cells (first n) with zero extra shuffle. The search itself is
    * an equi-join on cell id — corpus/K work per probed cell. `nprobe`
    * trades recall for cost; `nprobe = K` degenerates to exact kNN
    * (spec-asserted). Ordering ties: score desc, label asc; rank ties:
    * sim desc, id asc — all deterministic.
    *
    * `broadcastProbes` (default true) hints the probe side — right for the
    * common few-probes case, but each probe row is replicated `nprobe`
    * times carrying its full embedding, so a LARGE probe set would exceed
    * the broadcast limit: pass false there and AQE picks the join strategy
    * from the runtime size instead.
    *
    * Note: cell assignment ranks centroids by raw dot product (see
    * NearestCells), which assumes ~unit-norm embeddings — for strongly
    * unnormalized vectors it biases assignment toward long-norm centroids.
    * Normalize embeddings upstream (or accept the bias; the final `sim` is
    * always true cosine, only the cell routing is dot-scored). */
  def ivfTopK(corpus: DataFrame, id: Column, vec: Column, label: Column,
      isProbe: Column, k: Int, nprobe: Int = 1,
      broadcastProbes: Boolean = true): DataFrame = {
    val e = corpus.select(id.as("__vid"), vec.as("__v"), isProbe.as("__isp"),
      label.as("__lbl"))
    val cent = e
      .select(col("__lbl"), posexplode(col("__v")).as(Seq("dim", "v0")))
      .groupBy(col("__lbl"), col("dim"))
      .agg((sum(floor(col("v0").cast("double") * lit(1000000.0)).cast("long"))
        .cast("double") / 1000000.0 / count(lit(1))).as("cv"))
      .groupBy(col("__lbl"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("pairs"))
      .select(col("__lbl"), transform(col("pairs"), p => p.getField("cv")).as("cvec"))
    val centRows = cent.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    // nearest-first label list in ONE codegen'd pass over the embedding
    // (NearestCells): element 1 = assignment cell, 1..nprobe = the
    // probe's search cells
    val cellsOrdered = graft.functions.NearestCells(col("__v"),
      centRows.map(_._2).toIndexedSeq, centRows.map(_._1).toIndexedSeq)
    val scored = e.withColumn("__sc", cellsOrdered)
    val assigned = scored
      .withColumn("cell", element_at(col("__sc"), 1))
      .select(col("__vid"), col("__v"), col("cell"))
    val probes = scored.filter(col("__isp"))
      .select(col("__vid").as("probe_id"), col("__v").as("__pv"),
        explode(slice(col("__sc"), 1, nprobe)).as("cell"))
    val w = Window.partitionBy(col("probe_id")).orderBy(desc("sim"), col("__vid"))
    val probeSide = if (broadcastProbes) broadcast(probes) else probes
    assigned.join(probeSide, Seq("cell"))
      .filter(col("__vid") =!= col("probe_id"))
      .withColumn("sim", CosineSim(col("__pv"), col("__v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("__vid").as("id"), col("rank"), col("sim"))
  }

  // ------------------------------------------------------- quantizers
  // An inline top-k collects its models once, then runs the encode and
  // scoring cores its `*Encoder` and `*TopKCoded` twins run — never the
  // twins themselves: each public call collects again, and collecting a
  // lazy fit's model re-runs its last training round.

  /** A collected model in the baked-constant form the NearestCells family
    * wants: cluster-ascending (cluster, dim-ordered centroid vector). */
  private type Cells = IndexedSeq[(Int, Seq[Double])]

  /** Distributed Lloyd's k-means trainer — the training seam for
    * [[ivfTopK]]'s coarse quantizer (IVF assumes a trained centroid
    * table; this produces one, with the same integer-micros +
    * sequential-dot engine-portable arithmetic as the q21/q34 family).
    *
    * Runs [[pqFit]]'s Lloyd loop with the whole vector as its one slice:
    * hash-min seeds, argmax-dot assignment (score ties → lower cluster
    * id), integer-micros means. Dot-scored assignment assumes ~unit-norm
    * embeddings (see [[ivfTopK]]). Clusters that lose every member are
    * DROPPED from subsequent rounds and the output — the documented
    * contract (silently carrying a dead centroid forward would claim a
    * cluster the data no longer has). Accepts `array<float>` and
    * `array<double>` vectors (e.g. [[l2Normalize]] output).
    *
    * Scale shape: per round, assignment is a NARROW per-row projection
    * against the k·dim baked model (no corpus×k join, no shuffle) and
    * the update is one map-side-combined hash agg on (cluster, dim) —
    * the canonical 100 TB Lloyd's round: broadcast the model out,
    * aggregate the update back. `iters` bounds total cost explicitly;
    * there is deliberately no per-round convergence job (one more scan
    * per check — callers choose depth).
    *
    * Eager at plan-construction: running `iters` rounds executes
    * `iters` Spark jobs when CALLED (the returned frame's plan bakes
    * the final assignment) — like any trainer, illegal on streaming
    * inputs.
    *
    * Returns (cluster, dim, centroid, n): the trained model exploded
    * per dimension (n = member count, repeated across a cluster's
    * dims). */
  def kmeansFit(df: DataFrame, id: Column, vec: Column, k: Int,
      iters: Int): DataFrame = {
    require(k > 0, s"k must be positive; got $k")
    lloydFit(df, id, vec, IndexedSeq(col("__v")), k, iters, "kmeansFit")
      .drop("subspace")
  }

  /** Product-quantization trainer: k-means per length-`dim/m` subvector
    * slice — the memory-compression half of an IVF-PQ index (IVF prunes
    * WHICH rows a probe scores; PQ shrinks WHAT each scored row stores,
    * `dim` floats → `m` small ints). Vectors that are not `dim` long
    * fail loudly.
    *
    * Returns (subspace, cluster, dim, centroid, n) with `dim` the
    * within-subspace index; feed it to [[pqEncode]] / [[pqTopK]]. Eager
    * like any trainer (runs `iters` rounds when called). */
  def pqFit(df: DataFrame, id: Column, vec: Column, dim: Int, m: Int,
      ksub: Int, iters: Int): DataFrame = {
    val parts = subvectors(col("__v"), dim, m)
    require(ksub > 0, s"ksub must be positive; got $ksub")
    lloydFit(df, id, vec, parts, ksub, iters, "pqFit")
  }

  /** The one Lloyd loop behind [[kmeansFit]] and [[pqFit]]. `parts` cuts
    * the corpus vector `__v` into the slices its subspaces quantize.
    *
    * Seeds: the `k` rows with the smallest portable hash of `id` (id
    * tiebreak), selected in ONE top-k pass and sliced for every
    * subspace, quantized to exact micros (one IEEE multiply + floor +
    * divide after the exact widening to double — bit-identical in any
    * IEEE-754 engine, and every centroid the model ever has stays on the
    * same exact-integer-derived footing as the round updates).
    *
    * One round runs ALL subspaces in ONE corpus scan: per row, one
    * codegen'd NearestCells pass per slice against its baked sub-model,
    * explode to (subspace, cluster, dim, component) — the same dim
    * rows/input-row a single full-vector posexplode costs — and one
    * map-side-combined hash agg of integer-micros means (order-free long
    * sums, one double divide chain, the q21 oracle's derivation). A
    * per-subspace union would scan the corpus m times per round; at
    * 100 TB that factor is the difference between one pass and sixteen.
    * Returns (subspace, cluster, dim, centroid, n). */
  private def lloydFit(df: DataFrame, id: Column, vec: Column,
      parts: IndexedSeq[Column], k: Int, iters: Int, what: String): DataFrame = {
    require(iters >= 1, s"iters must be >= 1; got $iters")
    val base = df.select(id.as("__id"), vec.as("__v"))
      .filter(col("__v").isNotNull)
    val seeds = base
      .orderBy(Portable.phash(concat(lit("km|"), col("__id").cast("string"))),
        col("__id"))
      .limit(k).select(parts: _*).collect()
    require(seeds.nonEmpty, s"$what on an empty corpus")
    def round(ms: IndexedSeq[Cells]): DataFrame =
      base.select(explode(array(parts.indices.map { s =>
          struct(lit(s).as("subspace"), cellOf(parts(s), ms(s)).as("cluster"),
            parts(s).as("sv"))
        }: _*)).as("e"))
        .select(col("e.subspace").as("subspace"), col("e.cluster").as("cluster"),
          posexplode(col("e.sv")).as(Seq("dim", "__val")))
        .groupBy(col("subspace"), col("cluster"), col("dim"))
        .agg((sum(floor(col("__val").cast("double") * lit(1000000.0)).cast("long"))
          .cast("double") / 1000000.0 / count(lit(1))).as("centroid"),
          count(lit(1)).as("n"))
    // Number read: array<float> embeddings and array<double> residual or
    // normalized frames alike (doubleValue is the exact widening)
    var model = round(parts.indices.map { s =>
      seeds.toIndexedSeq.zipWithIndex.map { case (r, j) =>
        j -> r.getSeq[Number](s).map(f => math.floor(f.doubleValue * 1e6) / 1e6)
      }
    })
    for (_ <- 2 to iters) model = round(collectPqModel(model))
    model
  }

  /** A model table's centroids as one dim-ordered `cvec` per `keys`. */
  private def centroidVectors(model: DataFrame, keys: String*): DataFrame =
    model.groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(struct(col("dim"), col("centroid")))).as("ps"))
      .select(keys.map(col) :+ transform(col("ps"), p => p.getField("centroid")).as("cvec"): _*)

  /** Collects a (subspace, cluster, dim, centroid) model table: per
    * subspace present, its cells. A trained-model constant:
    * m·ksub·(dim/m) doubles total. */
  private def collectCells(model: DataFrame): Map[Int, Cells] =
    centroidVectors(model, "subspace", "cluster").collect()
      .groupBy(_.getInt(0)).map { case (s, rs) =>
        s -> rs.map(r => (r.getInt(1), r.getSeq[Double](2))).sortBy(_._1).toIndexedSeq
      }

  /** Collects a (cluster, dim, centroid) model table, the one-subspace
    * case of a pq model; empty for an empty model. */
  private[graft] def collectModel(model: DataFrame): IndexedSeq[(Int, Seq[Double])] =
    collectCells(model.withColumn("subspace", lit(0))).getOrElse(0, IndexedSeq.empty)

  /** Collects a pqFit model: subspace s's cells at index s. */
  private def collectPqModel(model: DataFrame): IndexedSeq[Cells] = {
    val bySub = collectCells(model)
    require(bySub.nonEmpty, "pq model is empty")
    (0 to bySub.keys.max).map { s =>
      val cs = bySub.getOrElse(s, IndexedSeq.empty)
      require(cs.nonEmpty, s"pq model has no centroids for subspace $s")
      cs
    }
  }

  /** [[collectModel]] for a coarse model, which must not be empty. */
  private def coarseCells(model: DataFrame, what: String): Cells = {
    val cents = collectModel(model)
    require(cents.nonEmpty, s"$what with an empty coarse model")
    cents
  }

  /** The labels of `cells`, nearest first (argmax sequential dot,
    * label-asc ties) — one codegen'd [[graft.functions.NearestCells]]
    * pass; element 1 is [[cellOf]]. */
  private def nearest(vec: Column, cells: Cells): Column =
    graft.functions.NearestCells(vec, cells.map(_._2), cells.map(_._1))

  private def cellOf(vec: Column, cells: Cells): Column =
    element_at(nearest(vec, cells), 1)

  /** The inference half of [[kmeansFit]]: tag each row with its
    * argmax-dot cluster from a trained model (collected once at call
    * time — a trained-model constant; the tagging itself is a narrow
    * codegen'd projection, zero shuffle at any scale). The `cluster`
    * column then slots straight into [[ivfTopK]]'s `label` argument.
    * Model-size ceiling: baking k·dim doubles into the plan is ideal at
    * the declared scales (k ≤ 64 coarse, 16/subspace PQ) but a flat
    * index with k ≫ 10⁴ would bloat the plan/task binaries — at that
    * size switch to [[kmeansAssignJoin]] (corpus ⋈ broadcast(model) with
    * a per-row argmax), trading one broadcast for plan bloat. */
  def kmeansAssign(df: DataFrame, vec: Column, model: DataFrame): DataFrame = {
    val cents = collectModel(model)
    require(cents.nonEmpty, "kmeansAssign with an empty model")
    df.withColumn("cluster", cellOf(vec, cents))
  }

  /** The broadcast-join tier of [[kmeansAssign]]: identical output (same
    * argmax-dot fold, same lowest-cluster tie rule — spec-asserted
    * bit-equal), but the model travels as DATA. The model table is
    * aggregated to ONE row holding the cluster-ascending (cluster, cvec)
    * cell array, broadcast-cross-joined onto the corpus (a 1-row
    * BroadcastNestedLoopJoin — no shuffle of the corpus side), and a
    * codegen'd [[graft.functions.NearestCellDyn]] folds the per-row
    * argmax. Use when k·dim is too large to bake as a plan constant
    * (k ≫ 10⁴: codegen references and task binaries grow linearly on the
    * baked path — `tools/StressKmeans` measures the cliff); below that,
    * [[kmeansAssign]]'s baked form stays preferable (no join node at
    * all). Null vectors get a null cluster on both paths. */
  def kmeansAssignJoin(df: DataFrame, vec: Column, model: DataFrame): DataFrame = {
    val cells = centroidVectors(model, "cluster")
      .agg(array_sort(collect_list(struct(col("cluster"), col("cvec")))).as("__cells"))
    df.crossJoin(broadcast(cells))
      .withColumn("cluster", graft.functions.NearestCellDyn(vec, col("__cells")))
      .drop("__cells")
  }

  /** The `m` equal `dim/m` slices of `vec` that PQ training and encoding
    * quantize. A non-null vector that is not `dim` long fails loudly, as
    * SQ8's encode does: sliced as-is, a short one would be quantized on a
    * prefix, its empty tail slices scoring all-zero dots and taking the
    * lowest label. */
  private def subvectors(vec: Column, dim: Int, m: Int): IndexedSeq[Column] = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m equal subspaces")
    val v = when(vec.isNull || size(vec) === dim, vec).otherwise(raise_error(concat(
      lit(s"pq: expected $dim-component vectors, got "), size(vec).cast("string"))))
    (0 until m).map(s => slice(v, s * (dim / m) + 1, dim / m))
  }

  /** The PQ encode core: `codes` (array<int>), one sub-centroid id per
    * subspace. */
  private def pqCodesCol(vec: Column, mdl: IndexedSeq[Cells], dim: Int): Column =
    array(subvectors(vec, dim, mdl.size).zip(mdl).map { case (v, c) => cellOf(v, c) }: _*)

  /** ADC score of probe `__pv` against PQ `codes`: one codegen'd
    * [[graft.functions.PqAdcScore]] call — the dot of the probe against
    * the row's reconstruction, never materializing it. */
  private def adcOf(codes: Column, mdl: IndexedSeq[Cells]): Column =
    graft.functions.PqAdcScore(col("__pv"), codes, mdl.map(_.map(_._2)),
      mdl.map(_.map(_._1)))

  /** An inline top-k's two inputs from one corpus: every row as
    * (id, __v, __isp) and the `isProbe` rows as (probe_id, __pv). */
  private[api] def corpusAndProbes(corpus: DataFrame, id: Column, vec: Column,
      isProbe: Column): (DataFrame, DataFrame) = {
    val e = corpus.select(id.as("id"), vec.as("__v"), isProbe.as("__isp"))
    (e, e.filter(col("__isp")).select(col("id").as("probe_id"), col("__v").as("__pv")))
  }

  /** The ranking every ANN top-k ends in: per probe, (`score` desc,
    * id asc), the first `k` rows as (probe_id, id, rank, `keep`…). */
  private def rankTop(scored: DataFrame, score: String, k: Int,
      keep: String*): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(desc(score), col("id"))))
      .filter(col("rank") <= k)
      .select((Seq("probe_id", "id", "rank") ++ keep).map(col): _*)

  /** The flat (unrouted) scoring core of PQ and SQ8: every coded
    * (id, codes) row against every broadcast (probe_id, __pv) probe —
    * the non-equi shape of [[knn]] — scored into column `name`. */
  private[api] def flatTopK(c: DataFrame, p: DataFrame, name: String,
      score: Column, k: Int): DataFrame =
    rankTop(c.join(broadcast(p), col("id") =!= col("probe_id"))
      .withColumn(name, score), name, k, name)

  /** The encode half of PQ: adds `codes` (array<int>, one sub-centroid id
    * per subspace — argmax sequential dot, cluster-asc ties, one codegen'd
    * NearestCells pass per subspace). A narrow zero-shuffle projection; at
    * rest the codes column replaces the embedding at ~`4·m` bytes/row. */
  def pqEncode(df: DataFrame, vec: Column, model: DataFrame, dim: Int): DataFrame =
    df.withColumn("codes", pqCodesCol(vec, collectPqModel(model), dim))

  /** PQ approximate top-k by asymmetric distance (ADC), inline form:
    * [[pqEncode]] then [[pqTopKCoded]] over one corpus, the model
    * collected once. The scan side is (id, m ints) — the point of PQ: at
    * 100 TB the ADC pass reads the compact code column, not the `dim`
    * floats; probes broadcast, so this scans corpus×probes
    * ([[ivfPqTopK]] also prunes the corpus side via coarse-cell
    * routing). Ordering: adc desc, id asc — deterministic. */
  def pqTopK(corpus: DataFrame, id: Column, vec: Column, isProbe: Column,
      model: DataFrame, dim: Int, k: Int): DataFrame = {
    val mdl = collectPqModel(model)
    val (e, probes) = corpusAndProbes(corpus, id, vec, isProbe)
    flatTopK(e.select(col("id"), pqCodesCol(col("__v"), mdl, dim).as("codes")),
      probes, "adc", adcOf(col("codes"), mdl), k)
  }

  /** The at-rest search entry point for PQ: scores STORED [[pqEncode]]
    * output (corpus = id + codes — the embeddings can be dropped after
    * encoding) against full-vector probes, as [[pqTopK]] does. At 100 TB
    * the corpus keeps `4·m` bytes/row and only probes retain floats. */
  def pqTopKCoded(coded: DataFrame, codedId: Column, codes: Column,
      probes: DataFrame, probeId: Column, probeVec: Column,
      model: DataFrame, k: Int): DataFrame = {
    val mdl = collectPqModel(model)
    flatTopK(coded.select(codedId.as("id"), codes.as("codes")),
      probes.select(probeId.as("probe_id"), probeVec.as("__pv")),
      "adc", adcOf(col("codes"), mdl), k)
  }

  /** The composed IVF×PQ index — the full 100 TB ANN story in one
    * operator: a coarse [[kmeansFit]] model routes (IVF prunes WHICH rows
    * a probe scores), a [[pqFit]] model compresses (PQ shrinks WHAT each
    * scored row stores), and the search is an equi-join on cell id where
    * the corpus side carries ONLY (cell, id, m ints). Inline form of
    * [[ivfPqEncode]] then [[ivfPqTopKCoded]], both models collected once.
    * ADC work per probe is ~corpus·nprobe/K instead of [[pqTopK]]'s full
    * corpus scan. Ordering: adc desc, id asc — deterministic.
    *
    * `rerank` > 0 switches on the standard TWO-STAGE search: the ADC pass
    * shortlists `rerank` candidates per probe (cheap, quantization-
    * approximate), then the shortlist alone is scored by EXACT cosine
    * against the stored vectors and the final `k` keep the exact order
    * (sim desc, id asc) — [[rerankTopK]]'s tail. Recall@k improves
    * strictly whenever ADC's code-level ordering misranks inside the
    * shortlist — the usual case at small m — and the exact work is
    * |probes|·rerank dot products instead of the corpus scan a fully-exact
    * search would need. Output gains a `sim` column (the exact score;
    * `adc` stays for diagnostics) and `rank` becomes the exact rank.
    * `rerank = 0` (default) = raw-ADC ranks, output unchanged. */
  def ivfPqTopK(corpus: DataFrame, id: Column, vec: Column, isProbe: Column,
      coarseModel: DataFrame, pqModel: DataFrame, dim: Int, k: Int,
      nprobe: Int = 1, rerank: Int = 0): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1; got $nprobe")
    require(rerank == 0 || rerank >= k,
      s"rerank shortlist must be 0 (off) or >= k=$k; got $rerank")
    val cents = coarseCells(coarseModel, "ivfPqTopK")
    val mdl = collectPqModel(pqModel)
    val (e, probes) = corpusAndProbes(corpus, id, vec, isProbe)
    adcTopK(ivfPqScored(ivfPqCodes(col("id"), col("__v"), cents, mdl, dim)(e),
      probes, cents, mdl, nprobe), e, k, rerank)
  }

  /** The standalone exact re-rank stage for the STORED-index path: takes
    * any ANN shortlist (probe id, candidate id — e.g. [[ivfPqTopKCoded]]
    * run at k = k′), the probe vectors, and the full vector table, and
    * returns the exact-cosine top-`k` per probe. This is how a two-stage
    * search composes over a persisted [[ivfPqEncode]] index at 100 TB:
    * the code table answers the cheap shortlist, and ONE equi-join pass
    * over the at-rest vector table — shortlist and probes both broadcast
    * (|probes|·k′ rows) — refunds the quantization error for the final
    * k. Ordering: sim desc, id asc — deterministic. */
  def rerankTopK(shortlist: DataFrame, slProbeId: Column, slCandId: Column,
      probes: DataFrame, probeId: Column, probeVec: Column,
      vectors: DataFrame, vecId: Column, vecCol: Column, k: Int): DataFrame =
    exactRerank(vectors.select(vecId.as("id"), vecCol.as("__cv")),
      shortlist.select(slProbeId.as("probe_id"), slCandId.as("id"))
        .join(broadcast(probes.select(probeId.as("probe_id"), probeVec.as("__pv"))),
          Seq("probe_id")), k)

  /** The one exact-rerank tail: ONE pass over the vector table `v`
    * (id, __cv) with the shortlist `sl` (probe_id, id, __pv, `keep`…)
    * broadcast in, exact cosine, the top `k` per probe by (sim desc,
    * id asc). */
  private def exactRerank(v: DataFrame, sl: DataFrame, k: Int,
      keep: String*): DataFrame =
    rankTop(v.join(broadcast(sl), Seq("id"))
      .withColumn("sim", CosineSim(col("__pv"), col("__cv"))), "sim", k, keep :+ "sim": _*)

  /** The inline IVF tail: the ADC top `k`, or with `rerank` > 0 the ADC
    * top `rerank` re-ranked by [[exactRerank]] over the corpus `e`. */
  private def adcTopK(scored: DataFrame, e: DataFrame, k: Int, rerank: Int): DataFrame =
    if (rerank == 0) rankTop(scored, "adc", k, "adc")
    else exactRerank(e.select(col("id"), col("__v").as("__cv")),
      rankTop(scored, "adc", rerank, "__pv", "adc").drop("rank"), k, "adc")

  /** Probe-cell routing: each (probe_id, __pv) probe once per its `nprobe`
    * nearest coarse cells. */
  private def routed(p: DataFrame, cents: Cells, nprobe: Int): DataFrame =
    p.withColumn("cell", explode(slice(nearest(col("__pv"), cents), 1, nprobe)))

  /** The raw IVF×PQ scoring core: stored (id, cell, codes) rows equi-join
    * the routed, broadcast probes on cell and score by ADC. */
  private def ivfPqScored(c: DataFrame, p: DataFrame, cents: Cells,
      mdl: IndexedSeq[Cells], nprobe: Int): DataFrame =
    c.join(broadcast(routed(p, cents, nprobe)), Seq("cell"))
      .filter(col("id") =!= col("probe_id"))
      .withColumn("adc", adcOf(col("codes"), mdl))

  /** The raw IVF×PQ encode core: (id, cell, codes). */
  private def ivfPqCodes(id: Column, vec: Column, cents: Cells,
      mdl: IndexedSeq[Cells], dim: Int): DataFrame => DataFrame =
    _.select(id.as("id"), cellOf(vec, cents).as("cell"),
      pqCodesCol(vec, mdl, dim).as("codes"))

  /** The build half of a STORED IVF×PQ index: tag each row with its
    * coarse cell (argmax-dot against the baked [[kmeansFit]] model) and
    * its PQ codes — the (id, cell, codes) table you persist to parquet,
    * partitioned by cell if you like. A narrow zero-shuffle projection;
    * after writing it the embedding column can be dropped. Search with
    * [[ivfPqTopKCoded]]. */
  def ivfPqEncode(df: DataFrame, id: Column, vec: Column,
      coarseModel: DataFrame, pqModel: DataFrame, dim: Int): DataFrame =
    ivfPqEncoder(id, vec, coarseModel, pqModel, dim)(df)

  /** The reusable-encoder form of [[ivfPqEncode]]: collects both model
    * tables ONCE and returns a pure `DataFrame => DataFrame` that tags any
    * frame with (id, cell, codes) against those frozen constants. This is
    * the seam incremental index maintenance needs — a foreachBatch append
    * path encodes every micro-batch with the SAME baked models instead of
    * re-running the model plans per batch (see
    * [[graft.streaming.StreamingOps.ivfPqAppendSink]]). */
  def ivfPqEncoder(id: Column, vec: Column, coarseModel: DataFrame,
      pqModel: DataFrame, dim: Int): DataFrame => DataFrame = {
    val cents = coarseCells(coarseModel, "ivfPqEncode")
    ivfPqCodes(id, vec, cents, collectPqModel(pqModel), dim)
  }

  /** The search half over a STORED index ([[ivfPqEncode]] output read
    * back — id + cell + codes, NO vectors): probes carry full vectors and
    * route to their `nprobe` nearest cells via the same baked coarse
    * model; ADC scores only inside probed cells, as [[ivfPqTopK]] does.
    * With [[pqTopKCoded]] this makes the whole index family
    * build-once/search-many: at 100 TB the index build is one pass over
    * the embeddings, and every search afterwards reads only the compact
    * code table plus two tiny model tables. */
  def ivfPqTopKCoded(coded: DataFrame, codedId: Column, cell: Column,
      codes: Column, probes: DataFrame, probeId: Column, probeVec: Column,
      coarseModel: DataFrame, pqModel: DataFrame, k: Int,
      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1; got $nprobe")
    val cents = coarseCells(coarseModel, "ivfPqTopKCoded")
    val mdl = collectPqModel(pqModel)
    rankTop(ivfPqScored(coded.select(codedId.as("id"), cell.as("cell"), codes.as("codes")),
      probes.select(probeId.as("probe_id"), probeVec.as("__pv")), cents, mdl, nprobe),
      "adc", k, "adc")
  }

  /** Coarse-model maintenance for a STORED index: re-route every at-rest
    * (id, cell, codes) row to its cell under a NEW coarse model WITHOUT
    * re-encoding the PQ codes. Valid because codes are a pure function of
    * (raw vector, pq model) and never of the coarse model — the SURVEY
    * §2.4 raw-vector-encode design choice — so after a coarse retrain
    * (e.g. on a corpus an [[graft.streaming.StreamingOps.ivfPqAppendSink]]
    * stream has grown) only the routing column goes stale. One equi-join
    * of the index against the vector table re-reads each vector for the
    * new assignment (same baked NearestCells routing as [[ivfPqEncode]]);
    * the `m` code ints per row pass through untouched. Output is
    * (id, cell, codes), bit-identical to a full re-encode under
    * (new coarse, same pq) — the PqSpec drift law. At 100 TB this is the
    * difference between one join pass and re-running the PQ encode's
    * m·NearestCells work per row — and it needs no PQ model at all. */
  def reindexCells(coded: DataFrame, codedId: Column, codes: Column,
      vectors: DataFrame, vecId: Column, vecCol: Column,
      coarseModel: DataFrame): DataFrame = {
    val cents = coarseCells(coarseModel, "reindexCells")
    val c = coded.select(codedId.as("id"), codes.as("codes"))
    val v = vectors.select(vecId.as("id"), vecCol.as("__v"))
    c.join(v, Seq("id"))
      .select(col("id"), cellOf(col("__v"), cents).as("cell"), col("codes"))
  }

  /** Residual product-quantization trainer — the opt-in recall tier the
    * SURVEY §2.4 design note reserves (vs the default raw-vector pqFit
    * lifecycle): quantize `v − c(v)` (each vector minus its coarse cell's
    * centroid, the classic IVFADC encoding) instead of `v` itself. Inside
    * a cell, residual magnitudes span a CELL radius, not a corpus radius,
    * so the same (m, ksub) codebook budget spends its resolution on a
    * smaller ball — measured on the oracle fixture (RecallSpec) the
    * residual tier beats the equal-bytes rich tier's recall@3.
    *
    * The trade the default avoids: residual codes are a function of
    * (vector, coarse model, pq model) — a coarse retrain invalidates every
    * stored code (no [[reindexCells]] cheap path), which is why raw-vector
    * PQ remains the default lifecycle and this tier is opt-in for the
    * recall-critical case with a FROZEN coarse model.
    *
    * Mechanics: route each row (baked NearestCells argmax), subtract the
    * selected centroid (one codegen'd [[graft.functions.CellResidual]]
    * pass — a single IEEE subtract per component, bit-portable), then the
    * standard [[pqFit]] machinery trains on the residual frame (same
    * portable-hash seed rows — the hash is over the ids, which the
    * residual frame shares). Output schema matches [[pqFit]]. */
  def pqFitResidual(df: DataFrame, id: Column, vec: Column,
      coarseModel: DataFrame, dim: Int, m: Int, ksub: Int,
      iters: Int): DataFrame = {
    val cents = coarseCells(coarseModel, "pqFitResidual")
    val resid = df
      .select(id.as("__rid"), vec.as("__fv"))
      .withColumn("__cell", cellOf(col("__fv"), cents))
      .select(col("__rid"), graft.functions.CellResidual(col("__fv"),
        col("__cell"), cents.map(_._2), cents.map(_._1)).as("__rv"))
    pqFit(resid, col("__rid"), col("__rv"), dim, m, ksub, iters)
  }

  /** The residual IVF×PQ encode core: (id, cell, codes of `v − c(v)`). */
  private def ivfRpqCodes(id: Column, vec: Column, cents: Cells,
      mdl: IndexedSeq[Cells], dim: Int): DataFrame => DataFrame =
    _.select(id.as("id"), vec.as("__fv"))
      .withColumn("cell", cellOf(col("__fv"), cents))
      .withColumn("__rv", graft.functions.CellResidual(col("__fv"),
        col("cell"), cents.map(_._2), cents.map(_._1)))
      .select(col("id"), col("cell"), pqCodesCol(col("__rv"), mdl, dim).as("codes"))

  /** The residual IVF×PQ scoring core: [[ivfPqScored]]'s join, with the
    * score reconstructed through the cell, `adc = ⟨p, c(v)⟩ + ⟨p, r̂(v)⟩`.
    * The cell-centroid dot comes from one [[graft.functions.PlaneDots]]
    * pass per probe against the baked coarse model, i.e. nprobe values
    * per probe, not per candidate; the residual ADC is one codegen'd call
    * per candidate. Every candidate in a probed cell shares the celldot
    * term, so the per-candidate work is exactly the raw tier's. */
  private def ivfRpqScored(c: DataFrame, p: DataFrame, cents: Cells,
      mdl: IndexedSeq[Cells], nprobe: Int): DataFrame = {
    val probes = routed(p.withColumn("__dots",
        graft.functions.PlaneDots(col("__pv"), cents.map(_._2))), cents, nprobe)
      .withColumn("celldot", element_at(col("__dots"), array_position(
        array(cents.map(c => lit(c._1)): _*), col("cell")).cast("int")))
      .drop("__dots")
    c.join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("probe_id"))
      .withColumn("adc", col("celldot") + adcOf(col("codes"), mdl))
  }

  /** The build half of a STORED residual-PQ (IVFADC) index: tag each row
    * with its coarse cell and its RESIDUAL codes — same (id, cell, codes)
    * persistence shape as [[ivfPqEncode]], same narrow zero-shuffle
    * projection, but `codes` quantize `v − c(v)` under a [[pqFitResidual]]
    * model. The coarse model must be the SAME frozen model the pq model
    * was trained against (codes are meaningless under any other). */
  def ivfRpqEncode(df: DataFrame, id: Column, vec: Column,
      coarseModel: DataFrame, rpqModel: DataFrame, dim: Int): DataFrame =
    ivfRpqEncoder(id, vec, coarseModel, rpqModel, dim)(df)

  /** The reusable-encoder form of [[ivfRpqEncode]] (the residual twin of
    * [[ivfPqEncoder]]): collects both frozen models ONCE and returns a
    * pure `DataFrame => DataFrame`. Residual encode is still a pure
    * per-row function of the frozen (coarse, residual-pq) model PAIR —
    * codes never depend on other rows — so append-then-search equals
    * rebuild-then-search exactly, same as the raw tier
    * ([[graft.streaming.StreamingOps.ivfRpqAppendSink]], spec-asserted).
    * The lifecycle asymmetry is only in RETRAINS: a new coarse model
    * invalidates residual codes (no [[reindexCells]] path). */
  def ivfRpqEncoder(id: Column, vec: Column, coarseModel: DataFrame,
      rpqModel: DataFrame, dim: Int): DataFrame => DataFrame = {
    val cents = coarseCells(coarseModel, "ivfRpqEncode")
    ivfRpqCodes(id, vec, cents, collectPqModel(rpqModel), dim)
  }

  /** Residual-PQ (IVFADC) search, inline form of [[ivfRpqEncode]] then
    * [[ivfRpqTopKCoded]], both models collected once: [[ivfPqTopK]]'s
    * routing and join shape, scored through the cell. Ordering: adc
    * desc, id asc. `rerank` as in [[ivfPqTopK]]. */
  def ivfRpqTopK(corpus: DataFrame, id: Column, vec: Column, isProbe: Column,
      coarseModel: DataFrame, rpqModel: DataFrame, dim: Int, k: Int,
      nprobe: Int = 1, rerank: Int = 0): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1; got $nprobe")
    require(rerank == 0 || rerank >= k,
      s"rerank shortlist must be 0 (off) or >= k=$k; got $rerank")
    val cents = coarseCells(coarseModel, "ivfRpqTopK")
    val mdl = collectPqModel(rpqModel)
    val (e, probes) = corpusAndProbes(corpus, id, vec, isProbe)
    adcTopK(ivfRpqScored(ivfRpqCodes(col("id"), col("__v"), cents, mdl, dim)(e),
      probes, cents, mdl, nprobe), e, k, rerank)
  }

  /** The search half over a STORED residual index ([[ivfRpqEncode]] output
    * read back — id + cell + codes, NO vectors): [[ivfPqTopKCoded]]'s
    * broadcast-route / DPP-friendly cell equi-join, scored through the
    * cell as [[ivfRpqTopK]] does. */
  def ivfRpqTopKCoded(coded: DataFrame, codedId: Column, cell: Column,
      codes: Column, probes: DataFrame, probeId: Column, probeVec: Column,
      coarseModel: DataFrame, rpqModel: DataFrame, k: Int,
      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1; got $nprobe")
    val cents = coarseCells(coarseModel, "ivfRpqTopKCoded")
    val mdl = collectPqModel(rpqModel)
    rankTop(ivfRpqScored(coded.select(codedId.as("id"), cell.as("cell"), codes.as("codes")),
      probes.select(probeId.as("probe_id"), probeVec.as("__pv")), cents, mdl, nprobe),
      "adc", k, "adc")
  }

  /** Z-ORDER curve value of two pre-normalized coordinates — the
    * multi-column data-layout primitive (the Delta/Iceberg OPTIMIZE
    * ZORDER idea as a plain column): interleave the low `bits` bits of
    * `x` (even positions) and `y` (odd positions), so rows close in BOTH
    * dimensions land close on the 1-D curve. Pure integer shifts/masks —
    * codegen'd end to end and bit-portable (q89 hash-checks every
    * z-value). Inputs must already sit in [0, 2^bits); see
    * [[zorderNormalize]]. */
  def zorderValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31]; got $bits")
    (0 until bits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** k-COLUMN z-order value with PER-COLUMN bit widths (round 14 — real
    * OPTIMIZE-ZORDER takes 3–4 columns): round-robin bit interleave,
    * ascending bit level, columns in declaration order, columns whose
    * width is exhausted drop out of later rounds. The 2-column equal-bits
    * case reproduces [[zorderValue]] bit for bit (spec-asserted — so the
    * q89 oracle proof carries over to this form). Total bits ≤ 63. */
  def zorderValueN(cols: Seq[(Column, Int)]): Column = {
    require(cols.size >= 2, s"zorderValueN needs >= 2 columns; got ${cols.size}")
    cols.foreach { case (_, b) =>
      require(b >= 1 && b <= 31, s"bits must be in [1, 31]; got $b") }
    require(cols.map(_._2).sum <= 63,
      s"total interleaved bits must be <= 63; got ${cols.map(_._2).sum}")
    var pos = 0
    val terms = for {
      i <- 0 until cols.map(_._2).max
      (c, b) <- cols if i < b
    } yield {
      val t = shiftright(c, i).bitwiseAND(lit(1L)) * lit(1L << pos)
      pos += 1
      t
    }
    terms.reduce(_ + _)
  }

  /** Min/max normalization of an integer column into [0, 2^bits):
    * `(v − lo) · (2^bits − 1) div max(hi − lo, 1)` — exact integer
    * arithmetic (the div is computed as `(n − n mod span) / span`, whose
    * IEEE division is exact because the numerator is a multiple of the
    * divisor — identical to the oracle's `//` on non-negative operands).
    * `lo`/`hi` are trained-stats constants (2 longs — collect them like
    * any model). Sound while (hi − lo)·(2^bits − 1) < 2^53. */
  def zorderNormalize(v: Column, lo: Long, hi: Long, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31]; got $bits")
    require(hi >= lo, s"hi must be >= lo; got [$lo, $hi]")
    val span = math.max(hi - lo, 1L)
    val num = (v.cast("long") - lit(lo)) * lit((1L << bits) - 1)
    ((num - pmod(num, lit(span))) / lit(span)).cast("long")
  }

  /** [[zorderNormalize]] of each `(column, bits)` against that column's
    * corpus min/max, all collected in one job (a trained-stats constant:
    * 2k longs). An empty corpus fails loudly, naming `opName`. */
  def zorderNormalizeCols(df: DataFrame, cols: Seq[(Column, Int)],
      opName: String): Seq[Column] = {
    val aggs = cols.flatMap { case (c, _) =>
      Seq(min(c.cast("long")), max(c.cast("long"))) }
    val st = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    require(!st.isNullAt(0), s"$opName on an empty corpus")
    cols.zipWithIndex.map { case ((c, b), j) =>
      zorderNormalize(c, st.getLong(2 * j), st.getLong(2 * j + 1), b) }
  }

  /** HILBERT-curve value of two pre-normalized coordinates — the locality
    * upgrade over [[zorderValue]]: consecutive curve positions are ALWAYS
    * unit-adjacent cells (the Z curve takes long diagonal jumps at
    * power-of-two boundaries), so range-partitioned files cover even
    * tighter 2-D regions. One codegen'd [[graft.functions.HilbertD]] call
    * per row; pure integer ops stated identically in the oracle's
    * unrolled per-level SQL (q90 hash-checks every value). Inputs from
    * [[zorderNormalize]]. */
  def hilbertValue(x: Column, y: Column, bits: Int): Column =
    graft.functions.HilbertD(x, y, bits)

  /** k-DIMENSIONAL Hilbert value (round 14): Skilling's transpose
    * algorithm ("Programming the Hilbert curve", AIP Conf. Proc. 707,
    * 2004 — the standard public n-D formulation) via one codegen'd
    * [[graft.functions.HilbertDN]] call per row. Same locality guarantee
    * as the 2-D walk — consecutive curve positions are unit-adjacent
    * cells in k-space (spec-proven over the full 3-D grid) — with
    * uniform `bits` per column; columns of genuinely different
    * cardinality normalize into the same [0, 2^bits) domain via
    * [[zorderNormalize]] first (Hamilton's compact-Hilbert is the known
    * per-column-bits extension; the Z tier [[zorderValueN]] covers that
    * need here). NOTE: for k = 2 this is a different (reflected)
    * orientation than [[hilbertValue]]'s classic walk — both are Hilbert
    * curves; the 2-D op keeps its q90-hash-proven layout. */
  def hilbertValueN(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, s"hilbertValueN needs >= 2 columns; got ${cols.size}")
    require(cols.size * bits <= 63,
      s"k*bits must be <= 63; got ${cols.size} * $bits")
    // NULL propagates like the z path's arithmetic does (CreateArray
    // would otherwise hand ArrayData a null element that reads as
    // coordinate 0 — a silently WRONG curve position)
    when(cols.map(_.isNull).reduce(_ || _), lit(null).cast("bigint"))
      .otherwise(graft.functions.HilbertDN(array(cols: _*), bits))
  }

  /** Z-ORDERED parquet write — the multi-column locality layout for
    * min/max scan pruning at 100 TB: normalize both columns against
    * collected corpus stats (4 longs — a trained-stats constant), compute
    * the interleaved curve value, RANGE-partition on it into `nFiles`
    * tasks and sort within each — so every output file covers one tight
    * z-range and a box predicate on (x, y) concentrates its matches in
    * few files, letting parquet row-group/file stats skip the rest
    * (spec-measured: the same box query touches ~4× fewer files than a
    * hash layout on the oracle fixture). Pure layout — rows unchanged. */
  def zorderWrite(df: DataFrame, x: Column, y: Column, bits: Int,
      path: String, nFiles: Int, curve: String = "z"): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1; got $nFiles")
    require(curve == "z" || curve == "hilbert",
      s"curve must be 'z' or 'hilbert'; got '$curve'")
    val Seq(xn, yn) =
      zorderNormalizeCols(df, Seq(x -> bits, y -> bits), "zorderWrite")
    val z = if (curve == "hilbert") hilbertValue(xn, yn, bits)
            else zorderValue(xn, yn, bits)
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** COMPACT Hilbert value with PER-COLUMN bit widths (round 14, closing
    * the mixed-width Hilbert gap [[hilbertValueN]] documents): Hamilton &
    * Rau-Chaplin's compact Hilbert index via one codegen'd
    * [[graft.functions.CompactHilbertDN]] call per row — bijects
    * [0, 2^Σbits) with NO index bits wasted on short columns, while
    * preserving the uniform walk's visit order over the box (the
    * spec-pinned defining law), so range-partitioned files keep Hilbert
    * locality even when key cardinalities differ by orders of magnitude.
    * Equal widths reduce to the uniform walk exactly. NULL coordinates
    * yield NULL, matching [[zorderValueN]]. */
  def compactHilbertValue(cols: Seq[(Column, Int)]): Column = {
    require(cols.size >= 2,
      s"compactHilbertValue needs >= 2 columns; got ${cols.size}")
    require(cols.map(_._2).sum <= 63,
      s"total bits must be <= 63; got ${cols.map(_._2).sum}")
    when(cols.map(_._1.isNull).reduce(_ || _), lit(null).cast("bigint"))
      .otherwise(graft.functions.CompactHilbertDN(
        array(cols.map(_._1): _*), cols.map(_._2)))
  }

  /** k-COLUMN z-ordered/Hilbert parquet write — [[zorderWrite]] for the
    * 3–4-column layouts real OPTIMIZE-ZORDER runs: normalize every
    * column against collected corpus stats (2k longs), compute the
    * k-column curve value ([[zorderValueN]] round-robin interleave or
    * the Skilling [[hilbertValueN]] walk), range-partition + in-file
    * sort. A k-D box predicate concentrates its matches in few files
    * (spec-measured in 3-D); pure layout — rows unchanged. */
  def zorderWriteN(df: DataFrame, cols: Seq[Column], bits: Int,
      path: String, nFiles: Int, curve: String = "z"): Unit =
    zorderWriteNW(df, cols.map(_ -> bits), path, nFiles, curve)

  /** [[zorderWriteN]] with PER-COLUMN bit widths (the q94 form): the z
    * curve and `curve = "compactHilbert"` (Hamilton — Hilbert locality
    * at mixed widths) both accept them; the plain Skilling
    * `curve = "hilbert"` needs a uniform hypercube and is rejected
    * loudly rather than silently degraded. */
  def zorderWriteNW(df: DataFrame, cols: Seq[(Column, Int)],
      path: String, nFiles: Int, curve: String = "z"): Unit = {
    require(cols.size >= 2, s"zorderWriteN needs >= 2 columns; got ${cols.size}")
    require(nFiles >= 1, s"nFiles must be >= 1; got $nFiles")
    require(curve == "z" || curve == "hilbert" || curve == "compactHilbert",
      s"curve must be 'z', 'hilbert', or 'compactHilbert'; got '$curve'")
    require(curve != "hilbert" || cols.map(_._2).distinct.size == 1,
      "curve=hilbert needs uniform bits (use compactHilbert for mixed widths)")
    val normed =
      zorderNormalizeCols(df, cols, "zorderWriteN").zip(cols.map(_._2))
    val z = curve match {
      case "hilbert" => hilbertValueN(normed.map(_._1), cols.head._2)
      case "compactHilbert" => compactHilbertValue(normed)
      case _ => zorderValueN(normed)
    }
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Index compaction — the maintenance terminal of the at-rest ANN
    * lifecycle (append → [[reindexCells]] → compact): rewrite the stored
    * (id, cell, codes) table into a CELL-PARTITIONED layout with each
    * cell's rows co-located in one task (`repartition(cell)` →
    * `partitionBy("cell")` ⇒ exactly one file per cell instead of the
    * one-file-per-(micro-batch × task) sprawl `ivfPqAppendSink`
    * accumulates). The payoff is more than file count: the search side
    * routes cells through a BROADCAST join ([[ivfPqTopKCoded]]), and a
    * broadcast join against a partition column triggers Spark's dynamic
    * partition pruning — after compaction a search with nprobe=p reads
    * ~p/K of the index from disk instead of scanning everything and
    * filtering (PqSpec asserts the `dynamicpruning` subquery in the
    * plan and search parity with the uncompacted table). Pure layout:
    * rows, schema, and every search result are unchanged. */
  def compactIndex(spark: SparkSession, inPath: String, outPath: String): Unit =
    Tables.parquet(spark, inPath)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(outPath)

  /** GENERAL small-files compaction — the Delta/Iceberg OPTIMIZE
    * bin-packing idea as an engine primitive (round 14): a long-running
    * curation pipeline (streaming appends, per-batch writes, heavily
    * partitioned sinks) accretes thousands of tiny parquet files whose
    * per-file open/footer cost eventually dominates scans at 100 TB.
    * This measures the directory's ACTUAL on-disk bytes via the Hadoop
    * FS (not row counts — compression ratio varies), targets
    * `ceil(bytes / targetBytes)` output files, and rewrites with a
    * round-robin repartition (even sizes, no skew key needed). Pure
    * layout: same rows (spec-asserted), fewer files. Sort-preserving
    * layouts ([[zorderWrite]]/[[zorderWriteN]]) have their own
    * terminals — re-run those instead when curve order must survive. */
  def compactOutput(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    require(targetBytes >= 1, s"targetBytes must be >= 1; got $targetBytes")
    val path = new org.apache.hadoop.fs.Path(inPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Sum DATA files only (skip _SUCCESS / _metadata / .crc side files —
    // getContentSummary counts them, inflating the target file count on
    // heavily-partitioned sinks; ADVICE r14). Still an estimate of the
    // rewritten size: re-encoding can change bytes either way.
    var bytes = 0L
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) bytes += f.getLen
    }
    require(bytes > 0, s"compactOutput on an empty directory: $inPath")
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    require(nFiles <= Int.MaxValue,
      s"compactOutput: $bytes bytes at targetBytes=$targetBytes needs " +
        s"$nFiles files — raise targetBytes (Int partition-count limit)")
    Tables.parquet(spark, inPath)
      .repartition(nFiles.toInt)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** Compaction for the PER-ROW admission indexes (fingerprint / image /
    * audio / video append sinks) — closes the at-least-once caveat: a
    * crash-retried micro-batch re-appends IDENTICAL index rows (every
    * row is a pure function of its payload), so a full-row `distinct`
    * restores exactly the rebuild-from-scratch index — flag outputs
    * drop their duplicates and nothing else changes (spec'd with a
    * simulated retry). Run it periodically, like any log-structured
    * index's merge pass. */
  def compactAdmissionIndex(spark: SparkSession, inPath: String,
      outPath: String): Unit =
    Tables.parquet(spark, inPath).distinct()
      .write.mode("overwrite").parquet(outPath)

  /** Compaction merge pass for the S20 upsert log
    * ([[graft.streaming.StreamingOps.upsertAppendSink]]): reduce the
    * accumulated per-batch winner rows to ONE row per key — TOMBSTONES
    * INCLUDED (a compaction that dropped them would let an out-of-order
    * older update resurrect a deleted key on the next merge; only the
    * read face filters deletes). The derived table
    * ([[graft.streaming.StreamingOps.upsertState]]) is identical before
    * and after (spec'd — latestByKey is associative), the log shrinks
    * from O(batches × keys) to O(keys). */
  def compactUpsertLog(spark: SparkSession, inPath: String, outPath: String,
      key: Seq[String], version: String, tiebreak: String): Unit =
    latestByKey(Tables.parquet(spark, inPath), key.map(col),
        col(version), col(tiebreak))
      .write.mode("overwrite").parquet(outPath)

  /** Compaction for the SPAN tier's accumulated [[spanIndexCounts]]
    * partials: re-aggregate to ONE row per window hash (what
    * [[spanIndexFromCounts]] would compute on read, materialized) — the
    * derived index is identical before and after (spec'd), the table
    * shrinks from O(batches × hashes) to O(hashes). NOTE this cannot
    * un-double-count a crash-retried batch (partials with equal counts
    * from different batches are legitimate and indistinguishable); a
    * retry can only OVER-count, which only ADDS spans to the index —
    * the conservative direction for dedup/decontamination (masks more,
    * never leaks a repeated span). Exactly-once span counts need the
    * affected slice re-counted, the documented recovery. */
  def compactSpanCounts(spark: SparkSession, inPath: String,
      outPath: String): Unit =
    Tables.parquet(spark, inPath)
      .groupBy(col("__sh"))
      .agg(sum(col("__df")).as("__df"), sum(col("__n")).as("__n"))
      .write.mode("overwrite").parquet(outPath)

  /** The deterministic ±1/√k projection plane family used by
    * [[randomProject]]: sign of entry (j, i) comes from the portable md5
    * hash of `rp<seed>|<j>_<i>`, so the SAME constants can be baked into
    * both the Spark plan and a generated oracle SQL literal (the
    * [[graft.functions.PlaneSigns]] hyperplane trick). 1/√k is a single
    * IEEE sqrt + divide — correctly rounded in any IEEE engine, so the
    * pre-scaled entries are bit-identical on both sides. */
  def rpPlanes(inDim: Int, outDim: Int, seed: Int): IndexedSeq[IndexedSeq[Double]] = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    IndexedSeq.tabulate(outDim, inDim) { (j, i) =>
      if (Portable.phashJvm(s"rp$seed|${j}_$i") % 2 == 0) scale else -scale
    }
  }

  /** Johnson–Lindenstrauss random projection — the dim-reduction step a
    * 100 TB embedding pipeline runs BEFORE indexing: project
    * `array<float>` vectors onto `outDim` deterministic ±1/√k planes
    * (Achlioptas-style sign matrix; pairwise distances are preserved
    * within the JL ε with high probability, and k counts far less than
    * the constant in front). Adds `proj` (array<double>, length
    * `outDim`). A pure narrow map — zero shuffle, scan speed at any
    * scale — and the k-plane product is ONE codegen'd
    * [[graft.functions.PlaneDots]] pass (the HOF form re-walks the
    * embedding once per output dim, interpreted). Deterministic across
    * runs/engines: planes derive from the portable hash via
    * [[rpPlanes]], so projected corpora are reproducible and
    * oracle-checkable (q61). A different `seed` draws an independent
    * projection without touching the data. */
  def randomProject(df: DataFrame, vec: Column, inDim: Int, outDim: Int,
      seed: Int = 0): DataFrame = {
    require(inDim > 0 && outDim > 0 && outDim <= inDim,
      s"need 0 < outDim <= inDim; got inDim=$inDim outDim=$outDim")
    // Wrong-shape vectors fail loudly: PlaneDots (like the rest of the
    // CosineSim family) folds over min(len, planeLen) elements, so a short
    // embedding would silently project a PREFIX — degraded geometry with
    // no signal. NULL vectors null-propagate (proj = null), matching the
    // family convention; null ELEMENTS inside the array remain the
    // caller's contract (embedding columns are containsNull=false).
    val vecSize = coalesce(size(vec), lit(-1))
    val checked = when(vecSize === inDim || vecSize === -1, vec)
      .otherwise(raise_error(concat(
        lit(s"randomProject: expected $inDim-component vectors, got "),
        vecSize.cast("string"), lit(" — pass the actual inDim or fix the input"))))
    df.withColumn("proj",
      graft.functions.PlaneDots(checked, rpPlanes(inDim, outDim, seed)))
  }

}
