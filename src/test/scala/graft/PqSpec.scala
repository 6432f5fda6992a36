package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.GraftOps

/** Product-quantization family: code validity/determinism, exact
  * agreement of the codegen'd ADC expression with a driver-side
  * reconstruction reference (same fold order → exact double equality),
  * and measured recall against exact kNN on the oracle fixture.
  */
class PqSpec extends AnyFunSuite with SharedSpark {

  private val sf01 = "/root/testdata/sf0.01"
  private val DIM = 64
  private val M = 4
  private val SUB = DIM / M

  private lazy val emb = Tables.load(spark, sf01, "embeddings")
  private lazy val model = GraftOps.pqFit(emb, col("vec_id"), col("embedding"),
    dim = DIM, m = M, ksub = 4, iters = 1)

  /** (subspace, cluster) → dim-ordered sub-centroid, from the model table. */
  private def modelMap(): Map[(Int, Int), Array[Double]] =
    model.collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1)
      .map { case (k, a) => k -> a.sortBy(_._2).map(_._3) }

  test("pqEncode emits one in-codebook code per subspace, deterministically") {
    val labels = modelMap().keys.toSeq.groupBy(_._1)
      .map { case (s, ks) => s -> ks.map(_._2).toSet }
    def run() = GraftOps.pqEncode(emb, col("embedding"), model, DIM)
      .select(col("vec_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val codes = run()
    assert(codes.nonEmpty)
    codes.values.foreach { cs =>
      assert(cs.length == M, s"expected $M codes, got ${cs.length}")
      cs.zipWithIndex.foreach { case (c, s) =>
        assert(labels(s).contains(c), s"code $c outside subspace $s codebook")
      }
    }
    assert(run() == codes, "pqEncode must be deterministic")
    // the codebook must actually discriminate: >1 distinct code per subspace
    (0 until M).foreach { s =>
      assert(codes.values.map(_(s)).toSet.size > 1,
        s"subspace $s collapsed to one code")
    }
  }

  test("ADC scores equal the driver-side reconstruction dot exactly") {
    val mm = modelMap()
    val codes = GraftOps.pqEncode(emb, col("embedding"), model, DIM)
      .select(col("vec_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val probeVecs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val out = GraftOps.pqTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 10, model, DIM, k = 3).collect()
    assert(out.length == probeVecs.size * 3)
    out.foreach { r =>
      val pe = probeVecs(r.getAs[Long]("probe_id"))
      val cs = codes(r.getAs[Long]("id"))
      // same left-associated fold the expression and the oracle state
      var acc = 0.0
      (0 until M).foreach { s =>
        val w = mm((s, cs(s)))
        var dot = 0.0
        var i = 0
        while (i < SUB) { dot += pe(s * SUB + i).toDouble * w(i); i += 1 }
        acc = if (s == 0) dot else acc + dot
      }
      assert(r.getAs[Double]("adc") == acc,
        s"ADC mismatch for (${r.getAs[Long]("probe_id")}, ${r.getAs[Long]("id")})")
    }
  }

  test("measured PQ recall@3 vs exact kNN; richer codebooks help") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("probe_id"), r.getAs[Long]("id"))).toSet
    val exact = pairs(GraftOps.knn(emb, emb.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3))
    def recallAt(m: Int, ksub: Int, iters: Int): Double = {
      val mdl = GraftOps.pqFit(emb, col("vec_id"), col("embedding"),
        dim = DIM, m = m, ksub = ksub, iters = iters)
      val pq = pairs(GraftOps.pqTopK(emb, col("vec_id"), col("embedding"),
        col("vec_id") < 10, mdl, DIM, k = 3))
      (exact intersect pq).size.toDouble / exact.size
    }
    val coarse = recallAt(M, 4, 1)     // the q50 oracle configuration
    val rich = recallAt(8, 16, 2)      // 8 subspaces x 16 centroids, 2 rounds
    info(f"PQ recall@3 coarse (m=4,k=4,1 round)  = $coarse%.3f")
    info(f"PQ recall@3 rich   (m=8,k=16,2 rounds) = $rich%.3f")
    // Near-orthogonal fixture embeddings are PQ's adversarial regime (the
    // exact top-3 sit at low cosine, quantization error comparable to the
    // score gaps) — floors catch collapse, not jitter; the richer codebook
    // must not do worse than the oracle-sized one.
    assert(coarse > 0.0, "coarse PQ found no true neighbors at all")
    assert(rich >= coarse - 0.1,
      f"richer codebooks regressed recall: $rich%.3f < $coarse%.3f - 0.1")
    // absolute floor on the rich configuration: the fixture is
    // deterministic (measured 0.100), so a collapse to zero recall must
    // FAIL even when coarse happens to be low enough that the relative
    // check alone would pass
    assert(rich >= 0.1, f"rich PQ recall collapsed: $rich%.3f < 0.1")
  }

  test("pqTopKCoded over stored pqEncode output matches inline pqTopK exactly") {
    val inline = GraftOps.pqTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 10, model, DIM, k = 3).collect().toSet
    // at-rest path: encode once, DROP the embeddings, search the codes
    val coded = GraftOps.pqEncode(emb, col("embedding"), model, DIM)
      .select(col("vec_id"), col("codes"))
    val probes = emb.filter(col("vec_id") < 10)
    val stored = GraftOps.pqTopKCoded(coded, col("vec_id"), col("codes"),
      probes, col("vec_id"), col("embedding"), model, k = 3).collect().toSet
    assert(stored == inline, "stored-codes search must equal inline re-encode")
  }

  test("ivfPqTopK: nprobe=all-cells equals unrouted pqTopK; nprobe=2 keeps recall") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("probe_id"), r.getAs[Long]("id"))).toSet
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    val ncells = coarse.select("cluster").distinct().count().toInt
    val unrouted = GraftOps.pqTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 10, model, DIM, k = 3).collect().toSet
    // probing EVERY cell restores the full candidate set — routed search
    // must then equal the unrouted scan row-for-row (scores included)
    val full = GraftOps.ivfPqTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 10, coarse, model, DIM, k = 3, nprobe = ncells)
      .collect().toSet
    assert(full == unrouted, "nprobe=K must degenerate to the unrouted ADC scan")
    // the routed configuration (q52's): measure recall of routed pairs vs
    // the unrouted ADC top-3 — pruning 2/4 cells must not collapse it
    val routed = pairs(GraftOps.ivfPqTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 10, coarse, model, DIM, k = 3, nprobe = 2))
    val base = unrouted.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("id")))
    val recall = (base intersect routed).size.toDouble / base.size
    info(f"IVFxPQ routed recall@3 vs unrouted ADC (nprobe=2/$ncells) = $recall%.3f")
    assert(recall >= 0.5, f"cell routing collapsed ADC recall: $recall%.3f")
  }

  test("ivfPqTopK rerank: all-cells + full shortlist degenerates to exact kNN") {
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    val ncells = coarse.select("cluster").distinct().count().toInt
    val n = emb.count().toInt
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "id", "rank", "sim").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val exact = tuples(GraftOps.knn(emb, emb.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3))
    // probing every cell + shortlisting everything leaves only the exact
    // cosine stage — ranks AND sim doubles must equal kNN bit-for-bit
    // (same CosineSim expression, same (sim desc, id) order)
    val reranked = tuples(GraftOps.ivfPqTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 10, coarse, model, DIM, k = 3, nprobe = ncells, rerank = n))
    assert(reranked == exact,
      "exhaustive two-stage search must degenerate to exact kNN")
  }

  test("rerank strictly improves recall@3 vs exact kNN at fixed nprobe") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("probe_id"), r.getAs[Long]("id"))).toSet
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    val exact = pairs(GraftOps.knn(emb, emb.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3))
    def recall(rerank: Int): Double = {
      val got = pairs(GraftOps.ivfPqTopK(emb, col("vec_id"), col("embedding"),
        col("vec_id") < 10, coarse, model, DIM, k = 3, nprobe = 2, rerank = rerank))
      (exact intersect got).size.toDouble / exact.size
    }
    val adcOnly = recall(0)
    val reranked = recall(12)
    info(f"IVFxPQ recall@3 vs exact kNN: raw ADC = $adcOnly%.3f, rerank=12 = $reranked%.3f")
    // the two-stage search exists to refund quantization error: at the
    // q52 codebook size (m=4, ksub=4) ADC misranks inside the shortlist,
    // so the exact re-rank must strictly beat raw ADC on this fixture
    assert(reranked > adcOnly,
      f"re-rank did not improve recall: $reranked%.3f <= $adcOnly%.3f")
  }

  test("rerank LAW: true-positive set grows monotonically in shortlist size (seeded configs)") {
    // The provable two-stage invariant, as a law over configs rather than
    // one measured point: per probe the ADC shortlist is a PREFIX of a
    // deterministic total order (adc desc, id asc), so shortlist(r1) ⊆
    // shortlist(r2) for r1 <= r2; and any exact-kNN member x that made the
    // re-ranked top-k at r1 has fewer than k corpus elements preceding it
    // in the exact order (sim desc, id asc), hence fewer than k in any
    // superset shortlist — x stays in the top-k at r2. So the TRUE-POSITIVE
    // SET itself is monotone in rerank (set containment, strictly stronger
    // than scalar recall monotonicity), at every nprobe independently.
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    val ncells = coarse.select("cluster").distinct().count().toInt
    def pairs(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("id"))).toSet
    val exact = pairs(GraftOps.knn(emb, emb.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
      k = 3).collect())
    // driver-side exact-cosine reference (same sequential fold as
    // CosineSim/the oracle) for the stage-2 exactness law
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < x.length) { d += x(i).toDouble * y(i).toDouble; i += 1 }
      d
    }
    for (nprobe <- Seq(1, 2, ncells)) {
      var prevTrue = Set.empty[(Long, Long)]
      var prevR = 0
      for (rerank <- Seq(3, 6, 12, 24)) {
        val rows = GraftOps.ivfPqTopK(emb, col("vec_id"), col("embedding"),
          col("vec_id") < 10, coarse, model, DIM, k = 3,
          nprobe = nprobe, rerank = rerank).collect()
        // stage-2 exactness: every emitted sim IS the true cosine, bit-equal
        rows.foreach { r =>
          val a = vecs(r.getAs[Long]("probe_id")); val b = vecs(r.getAs[Long]("id"))
          val want = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
          assert(r.getAs[Double]("sim") == want,
            s"re-rank sim is not the exact cosine for " +
              s"(${r.getAs[Long]("probe_id")}, ${r.getAs[Long]("id")})")
        }
        val truePos = pairs(rows) intersect exact
        assert(prevTrue.subsetOf(truePos),
          s"nprobe=$nprobe: growing the shortlist $prevR -> $rerank LOST " +
            s"true neighbors ${prevTrue diff truePos}")
        prevTrue = truePos; prevR = rerank
      }
      info(s"nprobe=$nprobe: true positives at rerank=24 -> " +
        f"${prevTrue.size}/${exact.size} (${prevTrue.size.toDouble / exact.size}%.3f)")
    }
  }

  test("rerankTopK over the stored index equals inline ivfPqTopK(rerank)") {
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    val index = GraftOps.ivfPqEncode(emb, col("vec_id"), col("embedding"),
      coarse, model, DIM)
    val probes = emb.filter(col("vec_id") < 10)
    // build-once/search-many two-stage: ADC shortlist (k' = 6) from the
    // code table, then the standalone exact re-rank against the at-rest
    // vector table
    val shortlist = GraftOps.ivfPqTopKCoded(index, col("id"), col("cell"),
      col("codes"), probes, col("vec_id"), col("embedding"),
      coarse, model, k = 6, nprobe = 2)
    val stored = GraftOps.rerankTopK(shortlist, col("probe_id"), col("id"),
      probes, col("vec_id"), col("embedding"),
      emb, col("vec_id"), col("embedding"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    val inline = GraftOps.ivfPqTopK(emb, col("vec_id"), col("embedding"),
        col("vec_id") < 10, coarse, model, DIM, k = 3, nprobe = 2, rerank = 6)
      .select(col("probe_id"), col("id"), col("rank"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    assert(stored == inline,
      "composed stored-index two-stage must equal the inline rerank path")
  }

  test("incremental index append: search-after-append equals search over rebuild") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    // day-0 index: even ids encoded in batch; the odd ids then ARRIVE on a
    // stream in two micro-batches through the append sink
    val base = emb.filter(col("vec_id") % 2 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-idx-ckpt").toString
    try {
      GraftOps.ivfPqEncode(base, col("vec_id"), col("embedding"),
        coarse, model, DIM).write.mode("append").parquet(dir)
      val newRows = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect()
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.StreamingOps.ivfPqAppendSink(
        input.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding")),
        col("vec_id"), col("embedding"), coarse, model, DIM,
        dir, "idxAppend", ckpt).start()
      try {
        val (a, b) = newRows.splitAt(newRows.length / 2)
        input.addData(a.toIndexedSeq); q.processAllAvailable()
        input.addData(b.toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
      val appended = spark.read.parquet(dir)
      assert(appended.count() == emb.count(),
        "append must cover every corpus row exactly once")
      val probes = emb.filter(col("vec_id") < 10)
      def search(index: org.apache.spark.sql.DataFrame) =
        GraftOps.ivfPqTopKCoded(index, col("id"), col("cell"), col("codes"),
          probes, col("vec_id"), col("embedding"), coarse, model,
          k = 3, nprobe = 2).collect().toSet
      val rebuilt = GraftOps.ivfPqEncode(emb, col("vec_id"), col("embedding"),
        coarse, model, DIM)
      assert(search(appended) == search(rebuilt),
        "search over the appended index must equal search over a full rebuild")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
      new Directory(new java.io.File(ckpt)).deleteRecursively()
    }
  }

  test("residual tier incremental append: search-after-append equals rebuild") {
    // The append==rebuild law holds for the RESIDUAL tier too: residual
    // codes are a pure per-row function of the frozen (coarse, rpq) model
    // pair, so where a batch arrived from never matters. (The tier's
    // lifecycle asymmetry is retrains, not appends.)
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    val rpq = GraftOps.pqFitResidual(emb, col("vec_id"), col("embedding"),
      coarse, dim = DIM, m = M, ksub = 4, iters = 1)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ridx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ridx-ckpt").toString
    try {
      GraftOps.ivfRpqEncode(base, col("vec_id"), col("embedding"),
        coarse, rpq, DIM).write.mode("append").parquet(dir)
      val newRows = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect()
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.StreamingOps.ivfRpqAppendSink(
        input.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding")),
        col("vec_id"), col("embedding"), coarse, rpq, DIM,
        dir, "ridxAppend", ckpt).start()
      try {
        val (a, b) = newRows.splitAt(newRows.length / 2)
        input.addData(a.toIndexedSeq); q.processAllAvailable()
        input.addData(b.toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
      val appended = spark.read.parquet(dir)
      assert(appended.count() == emb.count())
      val probes = emb.filter(col("vec_id") < 10)
      def search(index: org.apache.spark.sql.DataFrame) =
        GraftOps.ivfRpqTopKCoded(index, col("id"), col("cell"), col("codes"),
          probes, col("vec_id"), col("embedding"), coarse, rpq,
          k = 3, nprobe = 2).collect().toSet
      val rebuilt = GraftOps.ivfRpqEncode(emb, col("vec_id"), col("embedding"),
        coarse, rpq, DIM)
      assert(search(appended) == search(rebuilt),
        "residual search over the appended index must equal a full rebuild")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
      new Directory(new java.io.File(ckpt)).deleteRecursively()
    }
  }

  test("compactIndex: one file per cell, identical search, dynamic partition pruning") {
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-raw-idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft-cmp-idx").toString
    try {
      // simulate append sprawl: 3 "micro-batches", each fanned over 8 tasks
      val encoded = GraftOps.ivfPqEncode(emb, col("vec_id"), col("embedding"),
        coarse, model, DIM)
      (0 until 3).foreach { i =>
        encoded.filter(col("id") % 3 === i).repartition(8)
          .write.mode("append").parquet(dir)
      }
      def parquetFiles(root: String): Seq[java.io.File] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
          else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
        walk(new java.io.File(root))
      }
      val sprawl = parquetFiles(dir).size
      GraftOps.compactIndex(spark, dir, out)
      val nCells = spark.read.parquet(dir).select("cell").distinct().count()
      val compacted = parquetFiles(out).size
      assert(compacted == nCells && compacted < sprawl,
        s"compaction must leave one file per cell ($nCells), was $sprawl, got $compacted")
      val probes = emb.filter(col("vec_id") < 10)
      def search(index: org.apache.spark.sql.DataFrame) =
        GraftOps.ivfPqTopKCoded(index, col("id"), col("cell"), col("codes"),
          probes, col("vec_id"), col("embedding"), coarse, model,
          k = 3, nprobe = 2)
      assert(search(spark.read.parquet(out)).collect().toSet ==
        search(spark.read.parquet(dir)).collect().toSet,
        "compaction is pure layout: search results identical")
      // the broadcast cell-routing join against the partition column must
      // plan a dynamic-partition-pruning subquery on the compacted scan
      val plan = search(spark.read.parquet(out))
        .queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"compacted search must prune partitions dynamically:\n${plan.take(1500)}")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  test("declarative indexAppendSink: XML-compiled append equals rebuild search") {
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    coarse.createOrReplaceTempView("pq_coarse_model")
    model.createOrReplaceTempView("pq_pq_model")
    val dir = java.nio.file.Files.createTempDirectory("graft-idx2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-idx2-ckpt").toString
    val staging = java.nio.file.Files.createTempDirectory("graft-idx2-in").toString
    try {
      GraftOps.ivfPqEncode(emb.filter(col("vec_id") % 2 === 0),
        col("vec_id"), col("embedding"), coarse, model, DIM)
        .write.mode("append").parquet(dir)
      // new vectors land as files; fileStreamInput micro-batches them
      emb.filter(col("vec_id") % 2 === 1).select("vec_id", "embedding")
        .write.mode("overwrite").parquet(staging)
      val spec = graft.plans.PipelineSpec.parseXml(s"""
        <pipeline>
          <operator name="nv" class="fileStreamInput">
            <arg key="path" value="$staging"/><arg key="format" value="parquet"/>
            <arg key="schema" value="vec_id BIGINT, embedding ARRAY&lt;FLOAT&gt;"/>
          </operator>
          <operator name="cm" class="viewInput"><arg key="table" value="pq_coarse_model"/></operator>
          <operator name="pm" class="viewInput"><arg key="table" value="pq_pq_model"/></operator>
          <operator name="sink" class="indexAppendSink">
            <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
            <arg key="dim" value="$DIM"/><arg key="path" value="$dir"/>
            <arg key="checkpoint" value="$ckpt"/><arg key="name" value="idxAppendXml"/>
            <arg key="trigger" value="availableNow"/>
          </operator>
          <connect from="nv.outport1" to="sink.inport1"/>
          <connect from="cm.outport1" to="sink.inport2"/>
          <connect from="pm.outport1" to="sink.inport3"/>
        </pipeline>""")
      graft.plans.PipelineCompiler.compile(spec, spark)
      val q = spark.streams.active.find(_.name == "idxAppendXml")
        .getOrElse(fail("indexAppendSink did not start a named query"))
      // availableNow: the query consumes the staged files then stops itself
      try assert(q.awaitTermination(120000), "availableNow append did not finish")
      finally q.stop()
      val appended = spark.read.parquet(dir)
      assert(appended.count() == emb.count())
      val probes = emb.filter(col("vec_id") < 10)
      def search(index: org.apache.spark.sql.DataFrame) =
        GraftOps.ivfPqTopKCoded(index, col("id"), col("cell"), col("codes"),
          probes, col("vec_id"), col("embedding"), coarse, model,
          k = 3, nprobe = 2).collect().toSet
      val rebuilt = GraftOps.ivfPqEncode(emb, col("vec_id"), col("embedding"),
        coarse, model, DIM)
      assert(search(appended) == search(rebuilt),
        "declaratively-appended index must equal the full rebuild")
    } finally {
      import scala.reflect.io.Directory
      Seq(dir, ckpt, staging).foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
  }

  test("rich-tier (m=16) declarative lifecycle: XML train+encode+append+search == inline q66 path") {
    // VERDICT r10 #6: the recall tier must be choosable from the
    // declarative surface. One XML DAG trains the RICH models (m=16,
    // ksub=16 — the q66 configuration), base-encodes the even ids,
    // streams the odd ids through indexAppendSink against the SAME
    // in-DAG models, then a second DAG searches the at-rest table —
    // bit-equal (adc doubles included) to the inline q66 composition.
    val dir = java.nio.file.Files.createTempDirectory("graft-rich-idx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rich-ckpt").toString
    val staging = java.nio.file.Files.createTempDirectory("graft-rich-in").toString
    try {
      emb.createOrReplaceTempView("rich_emb")
      emb.filter(col("vec_id") % 2 === 0).createOrReplaceTempView("rich_base")
      emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
        .createOrReplaceTempView("rich_probes")
      emb.filter(col("vec_id") % 2 === 1).select("vec_id", "embedding")
        .write.mode("overwrite").parquet(staging)
      val ports = graft.plans.PipelineCompiler.compile(
        graft.plans.PipelineSpec.parseXml(s"""
        <pipeline>
          <operator name="src" class="viewInput"><arg key="table" value="rich_emb"/></operator>
          <operator name="base" class="viewInput"><arg key="table" value="rich_base"/></operator>
          <operator name="coarse" class="kmeansFit">
            <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
            <arg key="k" value="4"/><arg key="iters" value="1"/>
          </operator>
          <operator name="rich" class="pqFit">
            <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
            <arg key="dim" value="$DIM"/><arg key="m" value="16"/>
            <arg key="ksub" value="16"/><arg key="iters" value="1"/>
          </operator>
          <operator name="enc" class="ivfPqEncode">
            <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
            <arg key="dim" value="$DIM"/>
          </operator>
          <operator name="baseOut" class="fileSink">
            <arg key="path" value="$dir"/><arg key="mode" value="append"/>
          </operator>
          <operator name="nv" class="fileStreamInput">
            <arg key="path" value="$staging"/><arg key="format" value="parquet"/>
            <arg key="schema" value="vec_id BIGINT, embedding ARRAY&lt;FLOAT&gt;"/>
          </operator>
          <operator name="sink" class="indexAppendSink">
            <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
            <arg key="dim" value="$DIM"/><arg key="path" value="$dir"/>
            <arg key="checkpoint" value="$ckpt"/><arg key="name" value="richAppend"/>
            <arg key="trigger" value="availableNow"/>
          </operator>
          <connect from="src.outport1" to="coarse.inport1"/>
          <connect from="src.outport1" to="rich.inport1"/>
          <connect from="base.outport1" to="enc.inport1"/>
          <connect from="coarse.outport1" to="enc.inport2"/>
          <connect from="rich.outport1" to="enc.inport3"/>
          <connect from="enc.outport1" to="baseOut.inport1"/>
          <connect from="nv.outport1" to="sink.inport1"/>
          <connect from="coarse.outport1" to="sink.inport2"/>
          <connect from="rich.outport1" to="sink.inport3"/>
        </pipeline>"""), spark)
      val q = spark.streams.active.find(_.name == "richAppend")
        .getOrElse(fail("rich indexAppendSink did not start a named query"))
      try assert(q.awaitTermination(120000), "availableNow append did not finish")
      finally q.stop()
      // the at-rest table now covers the whole corpus, coded at m=16
      val atRest = spark.read.parquet(dir)
      assert(atRest.count() == emb.count())
      assert(atRest.select(size(col("codes"))).distinct().collect()
        .map(_.getInt(0)).toSeq == Seq(16), "rich tier must store 16 codes/row")
      // search DAG over the stored index, models re-read from the first
      // DAG's ports (trainers are deterministic: XML == API models)
      ports("coarse.outport1").createOrReplaceTempView("rich_coarse_v")
      ports("rich.outport1").createOrReplaceTempView("rich_pq_v")
      val ports2 = graft.plans.PipelineCompiler.compile(
        graft.plans.PipelineSpec.parseXml(s"""
        <pipeline>
          <operator name="idx" class="fileInput"><arg key="path" value="$dir"/></operator>
          <operator name="probes" class="viewInput"><arg key="table" value="rich_probes"/></operator>
          <operator name="cm" class="viewInput"><arg key="table" value="rich_coarse_v"/></operator>
          <operator name="pm" class="viewInput"><arg key="table" value="rich_pq_v"/></operator>
          <operator name="search" class="ivfPqSearch">
            <arg key="id" value="id"/><arg key="cell" value="cell"/>
            <arg key="codes" value="codes"/>
            <arg key="probeId" value="vec_id"/><arg key="probeVec" value="embedding"/>
            <arg key="k" value="3"/><arg key="nprobe" value="2"/>
          </operator>
          <connect from="idx.outport1" to="search.inport1"/>
          <connect from="probes.outport1" to="search.inport2"/>
          <connect from="cm.outport1" to="search.inport3"/>
          <connect from="pm.outport1" to="search.inport4"/>
        </pipeline>"""), spark)
      def tuples(df: org.apache.spark.sql.DataFrame) =
        df.select("probe_id", "id", "rank", "adc").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val got = tuples(ports2("search.outport1"))
      // the inline q66 composition (SimilarityOps.q66): same k/nprobe/m/ksub
      val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
        k = 4, iters = 1)
      val rich = GraftOps.pqFit(emb, col("vec_id"), col("embedding"),
        dim = DIM, m = 16, ksub = 16, iters = 1)
      val want = tuples(GraftOps.ivfPqTopK(emb, col("vec_id"), col("embedding"),
        col("vec_id") < 10, coarse, rich, DIM, k = 3, nprobe = 2))
      assert(got.nonEmpty && got == want,
        "declarative rich-tier lifecycle diverged from the inline q66 path")
    } finally {
      import scala.reflect.io.Directory
      Seq(dir, ckpt, staging).foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
  }

  test("reindexCells: coarse retrain re-routes the stored index without touching codes") {
    // The model-drift law the raw-vector-encode design buys (SURVEY §2.4):
    // codes are a pure function of (vector, pq model) — NEVER of the
    // coarse model — so after the corpus grows and coarse is retrained,
    // re-celling the at-rest table must be bit-identical to a full
    // re-encode under (new coarse, same pq), with every code byte
    // untouched. No PQ work, one join pass.
    val dayZero = emb.filter(col("vec_id") % 2 === 0)
    val coarse0 = GraftOps.kmeansFit(dayZero, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    // at-rest index as it stands after growth: day-0 rows encoded under
    // the ORIGINAL coarse model, appended rows under the same frozen
    // models (the ivfPqAppendSink contract)
    val encodeOld = GraftOps.ivfPqEncoder(col("vec_id"), col("embedding"),
      coarse0, model, DIM)
    val atRest = encodeOld(dayZero)
      .unionAll(encodeOld(emb.filter(col("vec_id") % 2 === 1)))
    // corpus grew -> retrain coarse on ALL rows (different seeds, different
    // cells than coarse0); pq model deliberately stays frozen
    val coarse1 = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    val reindexed = GraftOps.reindexCells(atRest, col("id"), col("codes"),
      emb, col("vec_id"), col("embedding"), coarse1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    val rebuilt = GraftOps.ivfPqEncode(emb, col("vec_id"), col("embedding"),
      coarse1, model, DIM)
    assert(rows(reindexed) == rows(rebuilt),
      "re-celled index must equal a full re-encode under (new coarse, same pq)")
    // the codes really passed through from the OLD table (not recomputed):
    // per id they equal the at-rest codes byte-for-byte
    val oldCodes = atRest.collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    reindexed.collect().foreach(r =>
      assert(r.getSeq[Int](2) == oldCodes(r.getLong(0)),
        s"codes changed for id ${r.getLong(0)} — reindex must not re-encode"))
    // and search over the re-celled index == search over the rebuild
    val probes = emb.filter(col("vec_id") < 10)
    def search(index: org.apache.spark.sql.DataFrame) =
      GraftOps.ivfPqTopKCoded(index, col("id"), col("cell"), col("codes"),
        probes, col("vec_id"), col("embedding"), coarse1, model,
        k = 3, nprobe = 2).collect().toSet
    assert(search(reindexed) == search(rebuilt),
      "search after reindexCells must equal search over the full rebuild")
  }

  test("declarative reindexCells: XML re-route equals the API path") {
    val coarseNew = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    val index = GraftOps.ivfPqEncode(emb.filter(col("vec_id") % 2 === 0),
      col("vec_id"), col("embedding"),
      GraftOps.kmeansFit(emb.filter(col("vec_id") % 2 === 0),
        col("vec_id"), col("embedding"), k = 4, iters = 1), model, DIM)
    index.createOrReplaceTempView("ric_index")
    emb.createOrReplaceTempView("ric_vectors")
    coarseNew.createOrReplaceTempView("ric_coarse_new")
    val ports = graft.plans.PipelineCompiler.compile(
      graft.plans.PipelineSpec.parseXml("""
        <pipeline>
          <operator name="idx" class="viewInput"><arg key="table" value="ric_index"/></operator>
          <operator name="vecs" class="viewInput"><arg key="table" value="ric_vectors"/></operator>
          <operator name="cm" class="viewInput"><arg key="table" value="ric_coarse_new"/></operator>
          <operator name="ric" class="reindexCells">
            <arg key="id" value="id"/><arg key="codes" value="codes"/>
            <arg key="vecId" value="vec_id"/><arg key="vec" value="embedding"/>
          </operator>
          <connect from="idx.outport1" to="ric.inport1"/>
          <connect from="vecs.outport1" to="ric.inport2"/>
          <connect from="cm.outport1" to="ric.inport3"/>
        </pipeline>"""), spark)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    val api = GraftOps.reindexCells(index, col("id"), col("codes"),
      emb, col("vec_id"), col("embedding"), coarseNew)
    assert(rows(ports("ric.outport1")) == rows(api),
      "XML reindexCells must equal the library call row-for-row")
  }

  test("stored IVFxPQ index: encode -> parquet roundtrip -> coded search == inline") {
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    val inline = GraftOps.ivfPqTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 10, coarse, model, DIM, k = 3, nprobe = 2).collect().toSet
    // build once: the (id, cell, codes) table is the WHOLE persisted index
    // state for the corpus side — embeddings dropped at rest
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    try {
      GraftOps.ivfPqEncode(emb, col("vec_id"), col("embedding"),
        coarse, model, DIM).write.mode("overwrite").parquet(dir)
      val index = spark.read.parquet(dir)
      val probes = emb.filter(col("vec_id") < 10)
      val stored = GraftOps.ivfPqTopKCoded(index, col("id"), col("cell"),
        col("codes"), probes, col("vec_id"), col("embedding"),
        coarse, model, k = 3, nprobe = 2).collect().toSet
      assert(stored == inline,
        "search over the persisted index must equal the inline composition")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("residual tier: stored encode -> parquet roundtrip -> coded search == inline") {
    // The IVFADC lifecycle parity law, residual flavor: ivfRpqEncode's
    // (id, cell, codes) table + ivfRpqTopKCoded must reproduce the inline
    // ivfRpqTopK bit-for-bit (same routing, same celldot + residual-ADC
    // score). Also pins the adc DECOMPOSITION: every inline adc equals a
    // driver-side celldot + residual-reconstruction dot computed from the
    // model tables directly.
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    val rpq = GraftOps.pqFitResidual(emb, col("vec_id"), col("embedding"),
      coarse, dim = DIM, m = M, ksub = 4, iters = 1)
    val inline = GraftOps.ivfRpqTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 10, coarse, rpq, DIM, k = 3, nprobe = 2).collect().toSet
    assert(inline.nonEmpty, "fixture sanity: inline residual search is non-empty")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfrpq").toString
    try {
      GraftOps.ivfRpqEncode(emb, col("vec_id"), col("embedding"),
        coarse, rpq, DIM).write.mode("overwrite").parquet(dir)
      val index = spark.read.parquet(dir)
      val probes = emb.filter(col("vec_id") < 10)
      val stored = GraftOps.ivfRpqTopKCoded(index, col("id"), col("cell"),
        col("codes"), probes, col("vec_id"), col("embedding"),
        coarse, rpq, k = 3, nprobe = 2).collect().toSet
      assert(stored == inline,
        "residual search over the persisted index must equal the inline composition")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("residual-tier declarative lifecycle: XML train+encode+search == inline API") {
    // The residual trio must be choosable from the declarative surface
    // like every other tier: one DAG trains coarse + residual models,
    // encodes the corpus to (id, cell, codes), and searches — bit-equal
    // (adc doubles included) to the inline composition.
    emb.createOrReplaceTempView("rpq_emb")
    emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
      .createOrReplaceTempView("rpq_probes")
    val ports = graft.plans.PipelineCompiler.compile(
      graft.plans.PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="src" class="viewInput"><arg key="table" value="rpq_emb"/></operator>
        <operator name="probes" class="viewInput"><arg key="table" value="rpq_probes"/></operator>
        <operator name="coarse" class="kmeansFit">
          <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
          <arg key="k" value="4"/><arg key="iters" value="1"/>
        </operator>
        <operator name="rpq" class="pqFitResidual">
          <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
          <arg key="dim" value="$DIM"/><arg key="m" value="$M"/>
          <arg key="ksub" value="4"/><arg key="iters" value="1"/>
        </operator>
        <operator name="enc" class="ivfRpqEncode">
          <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
          <arg key="dim" value="$DIM"/>
        </operator>
        <operator name="search" class="ivfRpqSearch">
          <arg key="id" value="id"/><arg key="cell" value="cell"/>
          <arg key="codes" value="codes"/>
          <arg key="probeId" value="vec_id"/><arg key="probeVec" value="embedding"/>
          <arg key="k" value="3"/><arg key="nprobe" value="2"/>
        </operator>
        <connect from="src.outport1" to="coarse.inport1"/>
        <connect from="src.outport1" to="rpq.inport1"/>
        <connect from="coarse.outport1" to="rpq.inport2"/>
        <connect from="src.outport1" to="enc.inport1"/>
        <connect from="coarse.outport1" to="enc.inport2"/>
        <connect from="rpq.outport1" to="enc.inport3"/>
        <connect from="enc.outport1" to="search.inport1"/>
        <connect from="probes.outport1" to="search.inport2"/>
        <connect from="coarse.outport1" to="search.inport3"/>
        <connect from="rpq.outport1" to="search.inport4"/>
      </pipeline>"""), spark)
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "id", "rank", "adc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val got = tuples(ports("search.outport1"))
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    val rpq = GraftOps.pqFitResidual(emb, col("vec_id"), col("embedding"),
      coarse, dim = DIM, m = M, ksub = 4, iters = 1)
    val want = tuples(GraftOps.ivfRpqTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 10, coarse, rpq, DIM, k = 3, nprobe = 2))
    assert(got.nonEmpty && got == want,
      "declarative residual-tier lifecycle diverged from the inline API path")
  }

  test("residual ADC decomposes exactly: celldot + residual reconstruction dot") {
    // Driver-side reference for the residual score: for a candidate v in
    // probed cell c with residual codes (k_1..k_m), the emitted adc must
    // equal dot(p, centroid_c) + sum_s dot(p_slice_s, rcb[s][k_s]) with
    // the same fold orders the expressions state — exact double equality,
    // no tolerance.
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 4, iters = 1)
    val rpq = GraftOps.pqFitResidual(emb, col("vec_id"), col("embedding"),
      coarse, dim = DIM, m = M, ksub = 4, iters = 1)
    // model tables -> driver maps
    val cents = coarse.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).map { case (c, a) => c -> a.sortBy(_._2).map(_._3) }
    val rcb = rpq.collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1).map { case (k, a) => k -> a.sortBy(_._2).map(_._3) }
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dotD(x: Array[Float], off: Int, w: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < w.length) { d += x(off + i).toDouble * w(i); i += 1 }
      d
    }
    val index = GraftOps.ivfRpqEncode(emb, col("vec_id"), col("embedding"),
      coarse, rpq, DIM).collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Int]("cell"),
        r.getSeq[Int](2).toArray)).toMap
    val rows = GraftOps.ivfRpqTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 10, coarse, rpq, DIM, k = 3, nprobe = 2).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = vecs(r.getAs[Long]("probe_id"))
      val (cell, codes) = index(r.getAs[Long]("id"))
      // probed-cell celldot: the candidate's OWN cell is the join cell
      val celldot = dotD(p, 0, cents(cell))
      var adc = 0.0
      codes.zipWithIndex.foreach { case (code, s) =>
        val d = dotD(p, s * SUB, rcb((s, code)))
        adc = if (s == 0) d else adc + d
      }
      assert(r.getAs[Double]("adc") == celldot + adc,
        s"adc mismatch for (${r.getAs[Long]("probe_id")}, ${r.getAs[Long]("id")})")
    }
  }

  test("model/vector dim mismatch fails loudly") {
    import spark.implicits._
    val short = Seq((1L, Seq(0.1f, 0.2f))).toDF("vec_id", "embedding")
    // a short corpus vector would be encoded on its prefix
    val enc = intercept[Exception](
      GraftOps.pqEncode(short, col("embedding"), model, DIM).collect())
    assert(enc.getMessage.contains(s"expected $DIM-component vectors, got 2"), enc.getMessage)
    // a short probe would be read past its end
    val coded = GraftOps.pqEncode(emb, col("embedding"), model, DIM)
      .select(col("vec_id"), col("codes"))
    val adc = intercept[Exception](GraftOps.pqTopKCoded(coded, col("vec_id"),
      col("codes"), short, col("vec_id"), col("embedding"), model, k = 3).collect())
    assert(adc.getMessage.contains(s"probe has 2 dims but the model has $DIM"), adc.getMessage)
  }
}
