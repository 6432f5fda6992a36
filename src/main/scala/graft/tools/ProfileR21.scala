package graft.tools

import org.apache.spark.sql.SparkSession

/** Planning-vs-execution split for named registry queries: per run,
  * the per-invocation PLANNING time (analysis + optimize + physical —
  * paid by the bench on every run and by a cluster driver on every
  * submission) next to the EXECUTION time through the noop sink, for
  * queries whose bench median exceeds their profiled steady state.
  * Three runs each (JIT/codegen settle).
  *
  * Usage: sbt "runMain graft.tools.ProfileR21 plantax [sfDir] [cpus] [q1,q2,...]"
  */
object ProfileR21 {
  def main(args: Array[String]): Unit = {
    val section = args.headOption.getOrElse("plantax")
    require(section == "plantax", s"unknown section $section")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = args.lift(2).getOrElse("32")
    val spark = graft.GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]").appName("graft-prof-r21"),
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = args.lift(3).getOrElse("q114_prefix_jaccard_join")
      .split(",").toSeq
    names.foreach { n =>
      val q = graft.SparkEntry.registry.find(_.name == n)
        .getOrElse(sys.error(s"no registry query named $n"))
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val df = q.run(spark, dir)
        val _ = df.queryExecution.executedPlan // force plan
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }
      println(f"[plantax] $n%-28s " + ts.map { case (p, e) =>
        f"plan=$p%.2f exec=$e%.2f" }.mkString("  "))
    }
    spark.stop()
  }
}
