package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.GraftOps

/** SQ8 scalar-quantization tier: trainer ranges, byte-code encode,
  * asymmetric search, and the at-rest overload. */
class Sq8Spec extends AnyFunSuite with SharedSpark {

  private def corpus = {
    import spark.implicits._
    // 40 deterministic 8-dim vectors; dim 7 is constant (degenerate range)
    (0 until 40).map { i =>
      (i.toLong, (0 until 8).map { d =>
        if (d == 7) 0.25f else ((i * 31 + d * 7) % 97).toFloat / 97f
      })
    }.toDF("id", "v")
  }

  test("sqFit: one [lo, hi] row per dimension, value-exact") {
    val m = GraftOps.sqFit(corpus, col("v")).orderBy("dim").collect()
    assert(m.length == 8)
    assert(m.map(_.getInt(0)).toSeq == (0 until 8))
    val rows = corpus.select(col("v")).collect().map(_.getSeq[Float](0))
    (0 until 8).foreach { d =>
      assert(m(d).getDouble(1) == rows.map(_(d).toDouble).min)
      assert(m(d).getDouble(2) == rows.map(_(d).toDouble).max)
    }
    // degenerate dim: lo == hi
    assert(m(7).getDouble(1) == m(7).getDouble(2))
  }

  test("sqEncode: codes are bytes, reconstruction error ≤ one step") {
    val model = GraftOps.sqFit(corpus, col("v"))
    val lohi = model.orderBy("dim").collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    val coded = GraftOps.sqEncode(corpus, col("v"), model)
      .select(col("id"), col("v"), col("codes")).collect()
    coded.foreach { r =>
      val v = r.getSeq[Float](1)
      val cs = r.getSeq[Byte](2)
      assert(cs.length == 8)
      (0 until 8).foreach { d =>
        val (lo, hi) = lohi(d)
        val code = cs(d).toInt + 128
        assert(code >= 0 && code <= 255)
        if (hi == lo) assert(code == 0)
        else {
          val recon = lo + code * ((hi - lo) / 255.0)
          assert(math.abs(recon - v(d)) <= (hi - lo) / 255.0 + 1e-12,
            s"dim $d: recon $recon vs ${v(d)}")
        }
      }
    }
  }

  test("sqTopK matches a driver-side reference on the dequantized codes") {
    val model = GraftOps.sqFit(corpus, col("v"))
    val got = GraftOps.sqTopK(corpus, col("id"), col("v"), col("id") < 3,
        model, k = 4)
      .orderBy("probe_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))

    // reference: dequantize every row, sequential-fold dot, sort
    val lohi = model.orderBy("dim").collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    val rows = corpus.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    def codeOf(v: Float, lo: Double, hi: Double): Int =
      if (hi == lo) 0
      else math.min(255, math.max(0,
        math.floor((v.toDouble - lo) * 255.0 / (hi - lo)).toInt))
    val expect = rows.filter(_._1 < 3).flatMap { case (pid, pv) =>
      rows.filter(_._1 != pid).map { case (id, v) =>
        var acc = 0.0
        (0 until 8).foreach { d =>
          val (lo, hi) = lohi(d)
          val recon = lo + codeOf(v(d), lo, hi) * ((hi - lo) / 255.0)
          val term = pv(d).toDouble * recon
          acc = if (d == 0) term else acc + term
        }
        (pid, id, acc)
      }.sortBy { case (_, id, sq) => (-sq, id) }.take(4).zipWithIndex
        .map { case ((p, id, sq), i) => (p, id, i + 1, sq) }
    }
    assert(got.toSeq == expect.toSeq)
  }

  test("sqTopKCoded (at-rest) equals sqTopK, with embeddings dropped") {
    val model = GraftOps.sqFit(corpus, col("v"))
    val inline = GraftOps.sqTopK(corpus, col("id"), col("v"), col("id") < 3,
      model, k = 4).orderBy("probe_id", "rank").collect().toSeq
    val atRest = GraftOps.sqEncode(corpus, col("v"), model)
      .select(col("id"), col("codes")) // floats gone
    val probes = corpus.filter(col("id") < 3)
    val got = GraftOps.sqTopKCoded(atRest, col("id"), col("codes"),
        probes, col("id"), col("v"), model, k = 4)
      .orderBy("probe_id", "rank").collect().toSeq
    assert(got == inline)
  }

  test("model/vector dim mismatch fails loudly") {
    import spark.implicits._
    val model = GraftOps.sqFit(corpus, col("v"))
    val short = Seq((1L, Seq(0.1f, 0.2f))).toDF("id", "v")
    val err = intercept[Exception](
      GraftOps.sqEncode(short, col("v"), model).collect())
    assert(err.getMessage != null)
  }

  test("a probe shorter than the model fails loudly in both searches") {
    import spark.implicits._
    val model = GraftOps.sqFit(corpus, col("v"))
    val short = Seq((100L, Seq(0.1f, 0.2f))).toDF("id", "v")
    // inline: the short probe is also a corpus row, so encode or score fails first
    val inline = intercept[Exception](GraftOps.sqTopK(corpus.union(short), col("id"),
      col("v"), col("id") === 100L, model, k = 4).collect())
    assert(inline.getMessage.contains("has 2 dims but the model has 8"), inline.getMessage)
    val atRest = GraftOps.sqEncode(corpus, col("v"), model).select(col("id"), col("codes"))
    val coded = intercept[Exception](GraftOps.sqTopKCoded(atRest, col("id"), col("codes"),
      short, col("id"), col("v"), model, k = 4).collect())
    assert(coded.getMessage.contains("sq8_dot: probe has 2 dims but the model has 8"),
      coded.getMessage)
  }
}
