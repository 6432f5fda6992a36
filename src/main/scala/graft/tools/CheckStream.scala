package graft.tools

/** Streaming-envelope guard — the [[CheckFreeze]] pattern applied to
  * STREAMBENCH: fails (exit 1) if any [[graft.StreamBench.allModes]]
  * shape has no frozen median in the envelope file, or (when a current
  * run's stdout JSON is supplied) if any shape's current throughput
  * falls under HALF its frozen median — the envelope's own stated
  * regression rule, previously applied only by judge eyeballing.
  * S21–S24 landed in round 16 without envelope rows and were frozen a
  * round later (a VERDICT finding); this makes that gap mechanical.
  *
  * Usage:
  *   sbt "runMain graft.tools.CheckStream [STREAMBENCH_rNN.json [run.json ...]]"
  * With one arg: coverage check only. With more: coverage + the ½× rule
  * against the current runs (each `run.json` = one StreamBench stdout
  * line, `"modes":{"s1_parse":32631,...}`). The envelope holds medians of
  * three runs, so with several run files the rule compares each shape's
  * median across them: single runs on a shared host swing by up to 2×.
  */
object CheckStream {
  /** Streaming laws that deliberately carry NO StreamBench shape — an
    * explicit decision record, not an omission (r18 VERDICT finding #2:
    * coverage that passes vacuously must say why). s29/s30/s31 gained
    * real shapes in round 19; the one remaining exemption is asserted
    * non-stale below (an exempted law that later gains a shape in
    * `allModes` fails this guard until it is removed from this map). */
  val exemptFaces: Map[String, String] = Map(
    "s19b_pq_append" -> ("the S19b PQ-index append face is law-spec'd " +
      "through a real stream (S19/PqSpec append == rebuild); its " +
      "per-batch work is the q66 PQ encode already frozen in the batch " +
      "bench (q66/q84), so a StreamBench shape would re-measure the " +
      "same encode behind a foreachBatch append"))

  private def pairs(text: String, key: String): Map[String, Double] = {
    // the object following `"<key>":{ ... }` as name→number pairs
    val start = text.indexOf("\"" + key + "\":{")
    require(start >= 0, s"no '$key' object found")
    val body = text.substring(start + key.length + 4,
      text.indexOf("}", start))
    """"(s\w+)":\s*([0-9.]+)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  def main(args: Array[String]): Unit = {
    val frozenPath = args.headOption.getOrElse {
      // newest STREAMBENCH_r*.json in cwd
      val fs = new java.io.File(".").listFiles()
        .filter(_.getName.matches("STREAMBENCH_r\\d+\\.json"))
      require(fs != null && fs.nonEmpty, "no STREAMBENCH_r*.json in cwd")
      fs.maxBy(_.getName.replaceAll("\\D", "").toInt).getPath
    }
    val frozenText = {
      val src = scala.io.Source.fromFile(frozenPath, "UTF-8")
      try src.mkString finally src.close()
    }
    val frozen = pairs(frozenText, "median_of_3")
    val shapes = graft.StreamBench.allModes.toSet
    // exemption staleness: a law listed as exempt must not ALSO have a
    // shape — if someone adds one, the exemption row must be deleted
    val staleExempt = exemptFaces.keySet.filter(shapes.contains)
    if (staleExempt.nonEmpty) {
      System.err.println(s"[check-stream] FAIL — exempted faces now have " +
        s"shapes in allModes; delete the exemption: ${staleExempt.mkString(", ")}")
      sys.exit(1)
    }
    val missing = (shapes -- frozen.keySet).toSeq.sorted
    val stale = (frozen.keySet -- shapes).toSeq.sorted
    if (stale.nonEmpty)
      System.err.println(s"[check-stream] WARNING stale envelope rows " +
        s"(no such shape): ${stale.mkString(", ")}")
    val runs = args.drop(1).toSeq.map { runPath =>
      val src = scala.io.Source.fromFile(runPath, "UTF-8")
      try pairs(src.mkString, "modes") finally src.close()
    }
    val slow: Seq[String] = if (runs.isEmpty) Nil else {
      val cur = runs.flatMap(_.keySet).distinct.map { m =>
        val xs = runs.flatMap(_.get(m)).sorted
        m -> (xs((xs.size - 1) / 2) + xs(xs.size / 2)) / 2
      }
      val missingRun = (shapes -- cur.map(_._1)).toSeq.sorted
      if (missingRun.nonEmpty)
        System.err.println(s"[check-stream] WARNING shapes absent from " +
          s"the current run: ${missingRun.mkString(", ")}")
      val of = if (runs.size > 1) s"median of ${runs.size} runs " else ""
      cur.collect {
        case (m, rps) if frozen.contains(m) && rps < frozen(m) / 2 =>
          f"$m ($of${rps}%.0f < half of frozen ${frozen(m)}%.0f rows/s)"
      }.sorted
    }
    if (missing.nonEmpty || slow.nonEmpty) {
      if (missing.nonEmpty)
        System.err.println(s"[check-stream] FAIL — shapes with no frozen " +
          s"median in $frozenPath: ${missing.mkString(", ")} — run the " +
          "3-pass quiet-host protocol and freeze them")
      if (slow.nonEmpty)
        System.err.println(s"[check-stream] FAIL — shapes under the " +
          s"½× rule: ${slow.mkString("; ")}")
      sys.exit(1)
    }
    println(s"[check-stream] OK — all ${shapes.size} shapes frozen in " +
      s"$frozenPath" + (runs.size match {
        case 0 => ""
        case 1 => " and the current run clears the ½× rule"
        case n => s" and the medians of the $n current runs clear the ½× rule"
      }) +
      s"; ${exemptFaces.size} documented shape exemption(s): " +
      exemptFaces.keys.toSeq.sorted.mkString(", "))
  }
}
