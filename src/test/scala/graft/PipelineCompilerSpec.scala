package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans._

class PipelineCompilerSpec extends AnyFunSuite with SharedSpark {

  private def xmlPipeline(extra: String = ""): String = s"""
    <pipeline>
      <operator name="in" class="parquetInput">
        <arg key="dir" value="$sf001"/><arg key="table" value="lineitem"/>
      </operator>
      <operator name="af" class="addField">
        <arg key="name" value="rev"/>
        <arg key="expr" value="l_extendedprice * (1 - l_discount)"/>
      </operator>
      <operator name="f" class="filter">
        <arg key="predicate" value="l_quantity &gt; 45"/>
      </operator>
      <connect from="in.outport1" to="af.inport1"/>
      <connect from="af.outport1" to="f.inport1"/>
      $extra
    </pipeline>"""

  test("XML spec parses and compiles; reference pipeline shape runs") {
    val spec = PipelineSpec.parseXml(xmlPipeline())
    assert(spec.nodes.map(_.name) == Seq("in", "af", "f"))
    val ports = PipelineCompiler.compile(spec, spark)
    val out = ports("f.outport1")
    assert(out.columns.contains("rev"))
    val n = out.count()
    assert(n > 0 && n < out.sparkSession.read.parquet(s"$sf001/lineitem.parquet").count())
  }

  private def jsonPipeline: String = s"""
    { "operators": [
        {"name": "in", "class": "parquetInput",
         "args": {"dir": "$sf001", "table": "lineitem"}},
        {"name": "af", "class": "addField",
         "args": {"name": "rev", "expr": "l_extendedprice * (1 - l_discount)"}},
        {"name": "f", "class": "filter",
         "args": {"predicate": "l_quantity > 45"}} ],
      "connect": [
        {"from": "in.outport1", "to": "af.inport1"},
        {"from": "af.outport1", "to": "f.inport1"} ] }"""

  test("JSON spec parses to the same ADT as XML and compiles to row-equal results") {
    val fromJson = PipelineSpec.parseJson(jsonPipeline)
    val fromXml = PipelineSpec.parseXml(xmlPipeline())
    assert(fromJson == fromXml) // identical PipelineSpec, not merely similar
    val a = PipelineCompiler.compile(fromJson, spark)("f.outport1")
    val b = PipelineCompiler.compile(fromXml, spark)("f.outport1")
    assert(a.columns.sameElements(b.columns))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.count() > 0)
  }

  test("JSON spec: scalar coercion, optional args, and loud malformed-spec errors") {
    val spec = PipelineSpec.parseJson(
      """{ "operators": [
           {"name": "n", "class": "filter", "args": {"limit": 10, "flag": true}},
           {"name": "bare", "class": "union"} ],
         "connect": [] }""")
    assert(spec.nodes.head.args == Map("limit" -> "10", "flag" -> "true"))
    assert(spec.nodes(1).args.isEmpty) // args object optional
    val badJson = intercept[PipelineException](PipelineSpec.parseJson("{ not json"))
    assert(badJson.getMessage.contains("malformed JSON"))
    val noClass = intercept[PipelineException](
      PipelineSpec.parseJson("""{"operators": [{"name": "x"}]}"""))
    assert(noClass.getMessage.contains("missing field 'class'"))
    val badArgs = intercept[PipelineException](
      PipelineSpec.parseJson("""{"operators": [{"name": "x", "class": "c", "args": {"a": [1]}}]}"""))
    assert(badArgs.getMessage.contains("must be scalars"))
  }

  test("JSON spec loads from a Hadoop-visible file path like its XML twin") {
    val f = java.nio.file.Files.createTempFile("pipeline", ".json")
    java.nio.file.Files.writeString(f, jsonPipeline)
    try {
      val spec = PipelineSpec.parseJsonFile(spark, f.toUri.toString)
      assert(spec == PipelineSpec.parseXml(xmlPipeline()))
    } finally java.nio.file.Files.delete(f)
  }

  test("declarative salted join: planted skewed key, row-equal, salted shuffle shape") {
    // planted skew: 90% of the big side concentrates on key 1 — the shape
    // where one reducer owns the hot key and AQE skew-split can't help
    // (no agg downstream, pinned partitioner)
    spark.range(0, 20000)
      .selectExpr("CASE WHEN id % 10 = 0 THEN id % 5 ELSE 1 END AS k", "id AS v")
      .createOrReplaceTempView("skew_big")
    spark.range(0, 5).selectExpr("id AS k2", "concat('d', id) AS d")
      .createOrReplaceTempView("skew_small")
    def joinXml(joinArgs: String) = s"""
      <pipeline>
        <operator name="b" class="viewInput"><arg key="table" value="skew_big"/></operator>
        <operator name="s" class="viewInput"><arg key="table" value="skew_small"/></operator>
        <operator name="j" class="join">$joinArgs</operator>
        <connect from="b.outport1" to="j.inport1"/>
        <connect from="s.outport1" to="j.inport2"/>
      </pipeline>"""
    // the salted path needs the same-named key column on both sides
    spark.range(0, 5).selectExpr("id AS k", "concat('d', id) AS d")
      .createOrReplaceTempView("skew_small_k")
    // disable auto-broadcast so the plan shows the SHUFFLED layout salting
    // exists for (a broadcastable dim needs no salt in the first place);
    // stays disabled until the LAZY plan below is forced
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val oldBc = spark.conf.get(bcKey)
    spark.conf.set(bcKey, "-1")
    try {
      val salted = PipelineCompiler.compile(PipelineSpec.parseXml(joinXml(
        """<arg key="key" value="k"/><arg key="salt" value="8"/>""")
        .replace("skew_small", "skew_small_k")), spark)("j.outport1")
      val plain = PipelineCompiler.compile(PipelineSpec.parseXml(joinXml(
        """<arg key="condition" value="k = k2"/>""")), spark)("j.outport1")
      // identical rows, salt column never leaks into the result
      assert(!salted.columns.contains("__salt"))
      val a = salted.select("k", "v", "d")
      val b = plain.select("k", "v", "d")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
      assert(a.count() == 20000)
      // plan shape: the equi-join keys must include the salt column (that
      // IS the skew fix — hot-key rows spread over `salt` reducers), and
      // the salted form must not degrade to nested-loop/cartesian
      val plan = salted.queryExecution.sparkPlan
      def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: p.children.flatMap(nodes)
      val joinNodes = nodes(plan).filter(_.nodeName.contains("Join"))
      assert(joinNodes.nonEmpty && joinNodes.forall(_.toString.contains("__salt")),
        s"salted join must key on __salt; got:\n$plan")
      assert(!nodes(plan).exists(n => n.nodeName.contains("BroadcastNestedLoopJoin") ||
        n.nodeName.contains("CartesianProduct")))
    } finally spark.conf.set(bcKey, oldBc)
    // misuse fails loudly, not silently unsalted (the small side
    // replicates per salt, so right/full outer would multiply its misses)
    val bad = intercept[PipelineException](PipelineCompiler.compile(
      PipelineSpec.parseXml(joinXml(
        """<arg key="key" value="k"/><arg key="salt" value="8"/><arg key="joinType" value="full_outer"/>""")
        .replace("skew_small", "skew_small_k")), spark))
    assert(bad.getMessage.contains("salted join"))
  }

  test("declarative salted LEFT join: planted skew + missing keys, row-equal") {
    // the common skewed shape: a hot fact key left-joins an incomplete
    // dim — misses must null-extend exactly ONCE (big rows carry one salt
    // each), not once per salt
    spark.range(0, 20000)
      .selectExpr("CASE WHEN id % 10 = 0 THEN CAST(id / 10 AS BIGINT) % 10 ELSE 1 END AS k",
        "id AS v")
      .createOrReplaceTempView("lskew_big")
    // keys 5..9 are absent from the dim: every big row with them misses
    spark.range(0, 5).selectExpr("id AS k", "concat('d', id) AS d")
      .createOrReplaceTempView("lskew_small")
    def joinXml(joinArgs: String) = s"""
      <pipeline>
        <operator name="b" class="viewInput"><arg key="table" value="lskew_big"/></operator>
        <operator name="s" class="viewInput"><arg key="table" value="lskew_small"/></operator>
        <operator name="j" class="join">$joinArgs</operator>
        <connect from="b.outport1" to="j.inport1"/>
        <connect from="s.outport1" to="j.inport2"/>
      </pipeline>"""
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val oldBc = spark.conf.get(bcKey)
    spark.conf.set(bcKey, "-1")
    try {
      val salted = PipelineCompiler.compile(PipelineSpec.parseXml(joinXml(
        """<arg key="key" value="k"/><arg key="salt" value="8"/>
           <arg key="joinType" value="left_outer"/>""")), spark)("j.outport1")
      val plain = spark.table("lskew_big")
        .join(spark.table("lskew_small"), Seq("k"), "left_outer")
      assert(salted.count() == 20000,
        "left misses must null-extend exactly once per big row")
      val a = salted.select("k", "v", "d")
      val b = plain.select("k", "v", "d")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "salted left join must equal the unsalted left join row-for-row")
      // still the salted shuffle shape: join keyed on __salt, no BNLJ
      val plan = salted.queryExecution.sparkPlan
      def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: p.children.flatMap(nodes)
      val joinNodes = nodes(plan).filter(_.nodeName.contains("Join"))
      assert(joinNodes.nonEmpty && joinNodes.forall(_.toString.contains("__salt")),
        s"salted left join must key on __salt; got:\n$plan")
      assert(!nodes(plan).exists(n => n.nodeName.contains("BroadcastNestedLoopJoin") ||
        n.nodeName.contains("CartesianProduct")))
    } finally spark.conf.set(bcKey, oldBc)
  }

  test("declarative pivot/unpivot roundtrip equals the DataFrame API") {
    import org.apache.spark.sql.functions._
    val ports = PipelineCompiler.compile(PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="in" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="orders"/>
        </operator>
        <operator name="p" class="pivot">
          <arg key="groupBy" value="o_orderpriority"/>
          <arg key="pivotCol" value="o_orderstatus"/>
          <arg key="values" value="O;F;P"/>
          <arg key="aggs" value="count(1) AS n"/>
        </operator>
        <operator name="u" class="unpivot">
          <arg key="ids" value="o_orderpriority"/>
          <arg key="values" value="O;F;P"/>
          <arg key="variable" value="status"/>
          <arg key="value" value="n"/>
        </operator>
        <connect from="in.outport1" to="p.inport1"/>
        <connect from="p.outport1" to="u.inport1"/>
      </pipeline>"""), spark)
    val o = spark.read.parquet(s"$sf001/orders.parquet")
    val apiWide = o.groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("O", "F", "P")).agg(expr("count(1) AS n"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val apiLong = apiWide.unpivot(Array(col("o_orderpriority")),
      Array(col("O"), col("F"), col("P")), "status", "n")
    assert(rows(ports("u.outport1")) == rows(apiLong) && rows(apiLong).nonEmpty)
    // pivot compiles to ONE two-phase agg over the listed values — no
    // extra distinct pre-pass, no join (the explicit-values contract)
    val plan = ports("p.outport1").queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"pivot must not plan a join:\n$plan")
  }

  test("declarative decontaminateBloom equals the library call") {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sf001/documents.parquet")
      .createOrReplaceTempView("bloom_docs")
    val ports = PipelineCompiler.compile(PipelineSpec.parseXml("""
      <pipeline>
        <operator name="corp" class="viewInput"><arg key="table" value="bloom_docs"/></operator>
        <operator name="fc" class="filter"><arg key="predicate" value="doc_id % 7 != 0"/></operator>
        <operator name="fe" class="filter"><arg key="predicate" value="doc_id % 7 = 0"/></operator>
        <operator name="d" class="decontaminateBloom">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
          <arg key="evalText" value="text"/><arg key="width" value="3"/>
          <arg key="expectedItems" value="65536"/><arg key="bloomBits" value="1048576"/>
        </operator>
        <connect from="corp.outport1" to="fc.inport1"/>
        <connect from="corp.outport1" to="fe.inport1"/>
        <connect from="fc.outport1" to="d.inport1"/>
        <connect from="fe.outport1" to="d.inport2"/>
      </pipeline>"""), spark)
    val docs = spark.table("bloom_docs")
    val api = graft.api.GraftOps.decontaminateBloom(
      docs.filter(expr("doc_id % 7 != 0")), col("doc_id"), col("text"),
      docs.filter(expr("doc_id % 7 = 0")), col("text"), width = 3,
      expectedItems = 65536L, bloomBits = 1048576L)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_contam").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(ports("d.outport1")) == rows(api) && rows(api).nonEmpty)
  }

  test("bucketSink terminal writes a layout that joins shuffle-free") {
    import org.apache.spark.sql.functions._
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val oldBc = spark.conf.get(bcKey)
    spark.conf.set(bcKey, "-1")
    try {
      spark.range(0, 5000).selectExpr("id % 97 AS k", "id AS v")
        .createOrReplaceTempView("bk_facts_src")
      spark.range(0, 97).selectExpr("id AS k", "concat('d', id) AS name")
        .createOrReplaceTempView("bk_dims_src")
      PipelineCompiler.compile(PipelineSpec.parseXml("""
        <pipeline>
          <operator name="f" class="viewInput"><arg key="table" value="bk_facts_src"/></operator>
          <operator name="d" class="viewInput"><arg key="table" value="bk_dims_src"/></operator>
          <operator name="fs" class="bucketSink">
            <arg key="table" value="bk_facts"/><arg key="key" value="k"/><arg key="buckets" value="8"/>
          </operator>
          <operator name="ds" class="bucketSink">
            <arg key="table" value="bk_dims"/><arg key="key" value="k"/><arg key="buckets" value="8"/>
          </operator>
          <connect from="f.outport1" to="fs.inport1"/>
          <connect from="d.outport1" to="ds.inport1"/>
        </pipeline>"""), spark)
      val joined = spark.table("bk_facts").join(spark.table("bk_dims"), "k")
      assert(joined.count() == 5000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketSink layout must join with zero exchanges:\n$plan")
    } finally {
      spark.conf.set(bcKey, oldBc)
      spark.sql("DROP TABLE IF EXISTS bk_facts")
      spark.sql("DROP TABLE IF EXISTS bk_dims")
    }
  }

  test("spec loads from a Hadoop-visible file path (ref HDFS spec load)") {
    val f = java.nio.file.Files.createTempFile("pipeline", ".xml")
    java.nio.file.Files.writeString(f, xmlPipeline())
    try {
      val spec = PipelineSpec.parseXmlFile(spark, f.toUri.toString)
      assert(spec.nodes.map(_.name) == Seq("in", "af", "f"))
      assert(spec.edges.length == 2)
    } finally java.nio.file.Files.delete(f)
  }

  test("ServiceLoader extension op compiles in XML; sealed registry wins collisions") {
    // TestOpProvider is wired ONLY via the test-classpath
    // META-INF/services entry (the extension-jar path — nothing references
    // it by name): resolvedRegistry must have discovered its new op.
    assert(PipelineCompiler.resolvedRegistry.contains("testTag"))
    assert(!PipelineCompiler.registry.contains("testTag"),
      "testTag must come from the ServiceLoader side, not the sealed Map")
    val spec = PipelineSpec.parseXml(xmlPipeline(
      """<operator name="t" class="testTag">
           <arg key="name" value="origin"/><arg key="value" value="ext"/>
         </operator>
         <connect from="f.outport1" to="t.inport1"/>"""))
    val out = PipelineCompiler.compile(spec, spark)("t.outport1")
    assert(out.columns.contains("origin"))
    // The provider ALSO declares a hostile "filter" that drops every row.
    // Sealed-wins-on-collision means the chain's filter stage above ran
    // the BUILT-IN semantics — rows survive and carry the extension tag.
    val n = out.count()
    assert(n > 0, "collision resolution let an extension shadow a built-in")
    assert(out.select("origin").distinct().collect().map(_.getString(0))
      .toSeq == Seq("ext"))
  }

  test("multimodal ops compose in XML: decode -> resize over real PNG payloads") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    val img = new BufferedImage(6, 6, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 6) img.setRGB(x, y, 0x804020)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    Seq((1L, bos.toByteArray), (2L, Array[Byte](3)))
      .toDF("doc_id", "payload").createOrReplaceTempView("media_payloads")
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="src" class="viewInput">
          <arg key="table" value="media_payloads"/>
        </operator>
        <operator name="dec" class="decodeImages"/>
        <operator name="rz" class="resizeImages">
          <arg key="targetW" value="3"/><arg key="targetH" value="3"/>
        </operator>
        <connect from="src.outport1" to="dec.inport1"/>
        <connect from="src.outport1" to="rz.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val dec = ports("dec.outport1").collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Boolean]("ok")).toMap
    assert(dec == Map(1L -> true, 2L -> false))
    val rz = ports("rz.outport1").filter("ok").collect()
    assert(rz.length == 1 && rz(0).getAs[Int]("width") == 3)
  }

  test("gif/mjpeg/audio registry ops compile in a declarative media DAG") {
    import spark.implicits._
    Seq(
      (1L, graft.operators.MultimodalOps.syntheticGif(3L)),
      (2L, graft.operators.MultimodalOps.syntheticAviMjpeg(3L)),
      (3L, graft.operators.MultimodalOps.syntheticWav(3L)))
      .toDF("doc_id", "payload").createOrReplaceTempView("media_mixed")
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="src" class="viewInput">
          <arg key="table" value="media_mixed"/>
        </operator>
        <operator name="gif" class="decodeGifFrames">
          <arg key="everyNth" value="2"/>
        </operator>
        <operator name="vid" class="decodeMjpegFrames"/>
        <operator name="aud" class="decodeAudioPcm"/>
        <connect from="src.outport1" to="gif.inport1"/>
        <connect from="src.outport1" to="vid.inport1"/>
        <connect from="src.outport1" to="aud.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    // each decoder accepts its own format and counts the others as ok=false
    val gifOk = ports("gif.outport1").filter("ok").collect()
    assert(gifOk.nonEmpty && gifOk.forall(_.getAs[Long]("doc_id") == 1L))
    val vidOk = ports("vid.outport1").filter("ok").collect()
    assert(vidOk.nonEmpty && vidOk.forall(_.getAs[Long]("doc_id") == 2L))
    val audOk = ports("aud.outport1").filter("ok").collect()
    assert(audOk.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L))
  }

  test("curation chain composes in XML: validate -> mixturePlan/apply -> quantileFilter") {
    import org.apache.spark.sql.functions._
    import graft.api.GraftOps
    Tables.load(spark, sf001, "documents")
      .withColumn("n_tokens", size(graft.functions.Text.tokens(col("text"))))
      .createOrReplaceTempView("docs_curation")
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="src" class="viewInput">
          <arg key="table" value="docs_curation"/>
        </operator>
        <operator name="val" class="validate">
          <arg key="checks"
            value="nonempty:length(trim(text)) &gt; 0;tokens_cap:n_tokens &lt;= 120"/>
        </operator>
        <operator name="ok" class="filter">
          <arg key="predicate" value="is_valid"/>
        </operator>
        <operator name="plan" class="mixturePlan">
          <arg key="source" value="source"/><arg key="tokens" value="n_tokens"/>
          <arg key="shares" value="src0:300000;src1:200000"/>
          <arg key="defaultSharePpm" value="40000"/>
          <arg key="budgetTokens" value="20000"/>
        </operator>
        <operator name="mix" class="mixtureApply">
          <arg key="source" value="source"/><arg key="key" value="doc_id"/>
        </operator>
        <operator name="qf" class="quantileFilter">
          <arg key="strata" value="source"/><arg key="score" value="n_tokens"/>
          <arg key="quantile" value="0.5"/>
        </operator>
        <connect from="src.outport1" to="val.inport1"/>
        <connect from="val.outport1" to="ok.inport1"/>
        <connect from="ok.outport1" to="plan.inport1"/>
        <connect from="ok.outport1" to="mix.inport1"/>
        <connect from="plan.outport1" to="mix.inport2"/>
        <connect from="mix.outport1" to="qf.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val out = ports("qf.outport1")
    assert(out.columns.contains("q_threshold") && out.columns.contains("violations"))
    // the declarative chain must equal the direct Scala-API composition
    val d = spark.table("docs_curation")
    val valid = GraftOps.withViolations(d, Seq(
        "nonempty" -> (length(trim(col("text"))) > 0),
        "tokens_cap" -> (col("n_tokens") <= 120)))
      .filter(col("is_valid"))
    val rates = GraftOps.mixtureRates(valid, col("source"), col("n_tokens"),
      Map("src0" -> 300000, "src1" -> 200000), defaultSharePpm = 40000,
      budgetTokens = 20000L)
    val expect = GraftOps.topQuantileFilter(
      GraftOps.applyMixture(valid, col("source"), col("doc_id"), rates),
      col("source"), col("n_tokens"), quantile = 0.5)
    val gotIds = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val expIds = expect.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds.nonEmpty && gotIds == expIds,
      s"XML chain diverged from the Scala API: ${gotIds.size} vs ${expIds.size} rows")
  }

  test("mixtureApply XML op preserves a user rate_ppm column (r8 alias fix, declarative path)") {
    // the round-8 alias-survival fix was spec'd on the Scala API; this is
    // the INTERACTION with the registry: a corpus that already carries a
    // user column named rate_ppm (the same name the plan table uses
    // internally) must come through the XML mixtureApply op with its
    // schema and values intact.
    import org.apache.spark.sql.functions._
    Tables.load(spark, sf001, "documents")
      .withColumn("n_tokens", size(graft.functions.Text.tokens(col("text"))))
      .withColumn("rate_ppm", lit(42L))
      .createOrReplaceTempView("docs_user_rate")
    val ports = PipelineCompiler.compile(PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="src" class="viewInput">
          <arg key="table" value="docs_user_rate"/>
        </operator>
        <operator name="plan" class="mixturePlan">
          <arg key="source" value="source"/><arg key="tokens" value="n_tokens"/>
          <arg key="shares" value="src0:300000;src1:200000"/>
          <arg key="defaultSharePpm" value="40000"/>
          <arg key="budgetTokens" value="20000"/>
        </operator>
        <operator name="mix" class="mixtureApply">
          <arg key="source" value="source"/><arg key="key" value="doc_id"/>
        </operator>
        <connect from="src.outport1" to="plan.inport1"/>
        <connect from="src.outport1" to="mix.inport1"/>
        <connect from="plan.outport1" to="mix.inport2"/>
      </pipeline>"""), spark)
    val out = ports("mix.outport1")
    assert(out.schema == spark.table("docs_user_rate").schema,
      s"mixtureApply must be schema-preserving; got ${out.schema.simpleString}")
    val vals = out.select("rate_ppm").distinct().collect().map(_.getLong(0))
    assert(vals.toSeq == Seq(42L), s"user rate_ppm clobbered: ${vals.toSeq}")
  }

  test("dedup family composes in XML: minhashPairs -> dedupApply -> sample -> pack (the q44 chain)") {
    import org.apache.spark.sql.functions._
    import graft.api.GraftOps
    Tables.load(spark, sf001, "documents").createOrReplaceTempView("docs_dedup")
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="src" class="viewInput">
          <arg key="table" value="docs_dedup"/>
        </operator>
        <operator name="pairs" class="minhashPairs">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
        </operator>
        <operator name="dd" class="dedupApply">
          <arg key="id" value="doc_id"/>
          <arg key="idA" value="id_a"/><arg key="idB" value="id_b"/>
        </operator>
        <operator name="tq" class="textQuality">
          <arg key="text" value="text"/>
        </operator>
        <operator name="smp" class="stratifiedSample">
          <arg key="strata" value="source"/><arg key="key" value="doc_id"/>
          <arg key="rates" value="src0:200000;src1:200000"/>
          <arg key="defaultPpm" value="500000"/>
        </operator>
        <operator name="pk" class="tokenPack">
          <arg key="strata" value="source"/><arg key="order" value="doc_id"/>
          <arg key="tokens" value="n_tokens"/><arg key="budget" value="1000"/>
        </operator>
        <connect from="src.outport1" to="pairs.inport1"/>
        <connect from="src.outport1" to="dd.inport1"/>
        <connect from="pairs.outport1" to="dd.inport2"/>
        <connect from="dd.outport1" to="tq.inport1"/>
        <connect from="tq.outport1" to="smp.inport1"/>
        <connect from="smp.outport1" to="pk.inport1"/>
      </pipeline>""")
    val out = PipelineCompiler.compile(spec, spark)("pk.outport1")
    assert(out.columns.contains("tok_offset") && out.columns.contains("bin"))
    // row-for-row equal to the direct Scala-API composition
    val d = spark.table("docs_dedup")
    val deduped = GraftOps.applyDedup(d, col("doc_id"),
      GraftOps.minhashNearDup(d, col("doc_id"), col("text")),
      col("id_a"), col("id_b"))
    val sampled = GraftOps.stratifiedSample(GraftOps.textQuality(deduped,
        col("text")), col("source"), col("doc_id"),
      Map("src0" -> 200000, "src1" -> 200000), defaultPpm = 500000)
    val expect = GraftOps.packByTokenBudget(sampled, col("source"),
      col("doc_id"), col("n_tokens"), budget = 1000L)
    val gotRows = out.select("doc_id", "tok_offset", "bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expRows = expect.select("doc_id", "tok_offset", "bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotRows.nonEmpty && gotRows == expRows)
  }

  test("decontaminate and shardCorpus registry ops bind declaratively") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sf001, "documents")
    d.filter(pmod(col("doc_id"), lit(10)) === 0).createOrReplaceTempView("eval_docs")
    d.filter(pmod(col("doc_id"), lit(10)) =!= 0).createOrReplaceTempView("train_docs")
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="corpus" class="viewInput"><arg key="table" value="train_docs"/></operator>
        <operator name="eval" class="viewInput"><arg key="table" value="eval_docs"/></operator>
        <operator name="dc" class="decontaminate">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
          <arg key="evalText" value="text"/><arg key="width" value="3"/>
        </operator>
        <operator name="sh" class="shardCorpus">
          <arg key="key" value="doc_id"/><arg key="seed" value="7"/>
          <arg key="nShards" value="8"/>
        </operator>
        <connect from="corpus.outport1" to="dc.inport1"/>
        <connect from="eval.outport1" to="dc.inport2"/>
        <connect from="corpus.outport1" to="sh.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val dc = ports("dc.outport1")
    assert(dc.columns.contains("n_contam") &&
      dc.count() == spark.table("train_docs").count())
    val sh = ports("sh.outport1")
    val shards = sh.select("shard").distinct().collect().map(_.getInt(0)).toSet
    assert(shards.subsetOf((0 until 8).toSet) && shards.size > 1)
  }

  test("shardedFileSink writes the ordered shard layout; knn binds two inports") {
    import org.apache.spark.sql.functions._
    Tables.load(spark, sf001, "documents").createOrReplaceTempView("docs_shard")
    Tables.load(spark, sf001, "embeddings").createOrReplaceTempView("emb_knn")
    spark.table("emb_knn").filter(col("vec_id") < 5)
      .createOrReplaceTempView("emb_probes")
    val dir = java.nio.file.Files.createTempDirectory("sharded-out")
    try {
      val ports = PipelineCompiler.compile(PipelineSpec.parseXml(s"""
        <pipeline>
          <operator name="src" class="viewInput"><arg key="table" value="docs_shard"/></operator>
          <operator name="w" class="shardedFileSink">
            <arg key="path" value="${dir.toUri}"/><arg key="key" value="doc_id"/>
            <arg key="seed" value="7"/><arg key="nShards" value="4"/>
          </operator>
          <operator name="corpus" class="viewInput"><arg key="table" value="emb_knn"/></operator>
          <operator name="probes" class="viewInput"><arg key="table" value="emb_probes"/></operator>
          <operator name="nn" class="knn">
            <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
            <arg key="probeId" value="vec_id"/><arg key="probeVec" value="embedding"/>
            <arg key="k" value="3"/>
          </operator>
          <connect from="src.outport1" to="w.inport1"/>
          <connect from="corpus.outport1" to="nn.inport1"/>
          <connect from="probes.outport1" to="nn.inport2"/>
        </pipeline>"""), spark)
      // sharded layout: shard=N dirs on disk, full corpus conserved, and
      // each written file internally ordered by shuffle_key
      val back = spark.read.parquet(dir.toString)
      assert(back.select("shard").distinct().count() == 4)
      assert(back.count() == spark.table("docs_shard").count())
      val inOrder = back.select(input_file_name().as("f"), col("shuffle_key"))
        .collect().groupBy(_.getString(0)).values
        .forall(rows => { val ks = rows.map(_.getLong(1)); ks.sameElements(ks.sorted) })
      assert(inOrder, "rows inside each written file must be shuffle_key-ordered")
      // knn: 5 probes x top-3, equal to the Scala API
      val got = ports("nn.outport1").collect()
        .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("id"), r.getAs[Int]("rank"))).toSet
      val expect = graft.api.GraftOps.knn(spark.table("emb_knn"),
          spark.table("emb_probes"), col("vec_id"), col("embedding"),
          col("vec_id"), col("embedding"), k = 3).collect()
        .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("id"), r.getAs[Int]("rank"))).toSet
      assert(got.size == 15 && got == expect)
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively()
    }
  }

  test("gapFill registry op densifies a time series declaratively") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="ev" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="events"/>
        </operator>
        <operator name="gf" class="gapFill">
          <arg key="key" value="user_id"/><arg key="ts" value="ts"/>
          <arg key="stepUs" value="3600000000"/>
          <arg key="maxBucketsPerKey" value="100000"/>
        </operator>
        <connect from="ev.outport1" to="gf.inport1"/>
      </pipeline>""")
    val out = PipelineCompiler.compile(spec, spark)("gf.outport1")
    assert(out.columns.toSeq == Seq("key", "bucket", "n"))
    val expect = graft.api.GraftOps.gapFill(
      Tables.load(spark, sf001, "events"), col("user_id"), col("ts"),
      stepUs = 3600000000L).count()
    assert(out.count() == expect && expect > 0)
  }

  test("round-12 event-time ops compose in XML: forward asofJoin with tolerance") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="ev" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="events"/>
        </operator>
        <operator name="clicks" class="filter">
          <arg key="predicate" value="event_type = 'click'"/>
        </operator>
        <operator name="purch" class="filter">
          <arg key="predicate" value="event_type = 'purchase'"/>
        </operator>
        <operator name="cc" class="select"><arg key="exprs" value="user_id;ts;event_id"/></operator>
        <operator name="pp" class="select"><arg key="exprs" value="user_id;ts;event_id"/></operator>
        <operator name="aj" class="asofJoin">
          <arg key="key" value="user_id"/><arg key="ts" value="ts"/>
          <arg key="tiebreak" value="event_id"/>
          <arg key="forward" value="true"/>
          <arg key="toleranceUs" value="7200000000"/>
        </operator>
        <connect from="ev.outport1" to="clicks.inport1"/>
        <connect from="ev.outport1" to="purch.inport1"/>
        <connect from="clicks.outport1" to="cc.inport1"/>
        <connect from="purch.outport1" to="pp.inport1"/>
        <connect from="cc.outport1" to="aj.inport1"/>
        <connect from="pp.outport1" to="aj.inport2"/>
      </pipeline>""")
    val out = PipelineCompiler.compile(spec, spark)("aj.outport1")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("event_id"), Option(r.getAs[Any]("asof_event_id")))
    val e = Tables.load(spark, sf001, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val expect = graft.api.GraftOps.asofJoin(
        e.filter(col("event_type") === "purchase").drop("event_type"),
        e.filter(col("event_type") === "click").drop("event_type"),
        "user_id", "ts", tiebreak = Some("event_id"), forward = true,
        toleranceUs = 7200000000L)
      .collect().map(key).toSet
    val got = out.collect().map(key).toSet
    assert(got == expect && got.nonEmpty, "XML asofJoin == library asofJoin")
    assert(got.exists(_._2.isDefined), "some clicks match a purchase")
  }

  test("round-12 frequency/sampling/outlier ops compose in XML") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf001, "documents")
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="d" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="bg" class="addField">
          <arg key="name" value="bg"/>
          <arg key="expr" value="concat(lang, ' ', source)"/>
        </operator>
        <operator name="hh" class="heavyHittersSketch">
          <arg key="key" value="bg"/><arg key="thrPpm" value="10000"/>
          <arg key="capacity" value="256"/>
        </operator>
        <operator name="co" class="collocations">
          <arg key="bigram" value="bg"/><arg key="minCount" value="2"/>
          <arg key="k" value="50"/>
        </operator>
        <operator name="ro" class="robustOutliers">
          <arg key="group" value="lang"/><arg key="value" value="n_chars"/>
        </operator>
        <operator name="ws" class="weightedSample">
          <arg key="key" value="doc_id"/>
          <arg key="weight" value="n_chars / 1000.0"/>
          <arg key="ratePpm" value="500000"/>
        </operator>
        <connect from="d.outport1" to="bg.inport1"/>
        <connect from="bg.outport1" to="hh.inport1"/>
        <connect from="bg.outport1" to="co.inport1"/>
        <connect from="d.outport1" to="ro.inport1"/>
        <connect from="d.outport1" to="ws.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val withBg = docs.withColumn("bg", concat(col("lang"), lit(" "), col("source")))
    // heavy hitters: sketch tier == exact tier == library, by construction
    val hhGot = ports("hh.outport1").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("n"))).toSet
    val hhExp = graft.api.GraftOps.heavyHitters(withBg, col("bg"), 10000L)
      .collect().map(r => (r.getAs[String]("key"), r.getAs[Long]("n"))).toSet
    assert(hhGot == hhExp && hhGot.nonEmpty)
    val coGot = ports("co.outport1").collect()
      .map(r => (r.getAs[String]("bg"), r.getAs[Double]("lift"))).toSeq
    val coExp = graft.api.GraftOps.collocations(withBg, col("bg"), 2L, 50)
      .collect().map(r => (r.getAs[String]("bg"), r.getAs[Double]("lift"))).toSeq
    assert(coGot == coExp && coGot.nonEmpty, "ordered top-k identical")
    val roGot = ports("ro.outport1").filter(col("score").isNotNull).count()
    val roExp = graft.api.GraftOps.robustOutliers(docs, col("lang"), col("n_chars"))
      .filter(col("score").isNotNull).count()
    assert(roGot == roExp && roGot > 0)
    val wsGot = ports("ws.outport1").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val wsExp = graft.api.GraftOps.weightedSample(docs, col("doc_id"),
        col("n_chars") / 1000.0, 500000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(wsGot == wsExp && wsGot.nonEmpty)
  }

  test("round-12 interpolate + dedupApplyBest compose in XML") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="ev" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="events"/>
        </operator>
        <operator name="ip" class="interpolate">
          <arg key="key" value="user_id"/><arg key="ts" value="ts"/>
          <arg key="value" value="value"/><arg key="stepUs" value="3600000000"/>
        </operator>
        <operator name="d" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="mp" class="minhashPairs">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
        </operator>
        <operator name="db" class="dedupApplyBest">
          <arg key="id" value="doc_id"/><arg key="score" value="n_chars"/>
          <arg key="idA" value="id_a"/><arg key="idB" value="id_b"/>
        </operator>
        <connect from="ev.outport1" to="ip.inport1"/>
        <connect from="d.outport1" to="mp.inport1"/>
        <connect from="d.outport1" to="db.inport1"/>
        <connect from="mp.outport1" to="db.inport2"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val ip = ports("ip.outport1")
    assert(ip.columns.toSeq == Seq("key", "bucket", "n", "value", "fill_method"))
    val ipExp = graft.api.GraftOps.interpolate(
      Tables.load(spark, sf001, "events"), col("user_id"), col("ts"),
      col("value"), stepUs = 3600000000L)
    assert(ip.count() == ipExp.count() &&
      ip.filter(col("fill_method") === "interpolated").count() ==
        ipExp.filter(col("fill_method") === "interpolated").count())
    val d = Tables.load(spark, sf001, "documents")
    val dbGot = ports("db.outport1").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val dbExp = graft.api.GraftOps.applyDedupBest(d, col("doc_id"),
        col("n_chars"),
        graft.api.GraftOps.minhashNearDup(d, col("doc_id"), col("text"),
          shingleWidth = 3, numHashes = 16, bands = 4, minMatches = 8),
        col("id_a"), col("id_b"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dbGot == dbExp && dbGot.size < d.count(),
      "XML keep-best == library keep-best, and it dropped something")
  }

  test("round-13 semanticDedup XML == library (pairs and end-to-end)") {
    import org.apache.spark.sql.functions._
    val ports = PipelineCompiler.compile(PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="e" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="embeddings"/>
        </operator>
        <operator name="sp" class="semanticPairs">
          <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
          <arg key="k" value="4"/><arg key="threshold" value="0.3"/>
        </operator>
        <operator name="sd" class="semanticDedup">
          <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
          <arg key="score" value="CAST(element_at(embedding, 1) AS DOUBLE)"/>
          <arg key="k" value="4"/><arg key="threshold" value="0.3"/>
        </operator>
        <connect from="e.outport1" to="sp.inport1"/>
        <connect from="e.outport1" to="sd.inport1"/>
      </pipeline>"""), spark)
    val e = Tables.load(spark, sf001, "embeddings")
    val spGot = ports("sp.outport1").select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val spExp = graft.api.GraftOps.semanticDedupPairs(e, col("vec_id"),
        col("embedding"), k = 4, threshold = 0.3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(spGot == spExp, "XML pair set == library pair set")
    val sdGot = ports("sd.outport1").select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val sdExp = graft.api.GraftOps.semanticDedup(e, col("vec_id"),
        element_at(col("embedding"), 1).cast("double"), col("embedding"),
        k = 4, threshold = 0.3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sdGot == sdExp, "XML survivors == library survivors")
    assert(spGot.isEmpty || sdGot.size < e.count(),
      "when pairs exist the apply must drop members")
  }

  test("round-13 fingerprint admission ops XML == library") {
    import org.apache.spark.sql.functions._
    val ports = PipelineCompiler.compile(PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="d" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="fi" class="fingerprintIndex">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
        </operator>
        <operator name="ff" class="fingerprintFlag">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
        </operator>
        <operator name="fa" class="fingerprintAdmit">
          <arg key="text" value="text"/>
        </operator>
        <connect from="d.outport1" to="fi.inport1"/>
        <connect from="d.outport1" to="ff.inport1"/>
        <connect from="fi.outport1" to="ff.inport2"/>
        <connect from="d.outport1" to="fa.inport1"/>
        <connect from="fi.outport1" to="fa.inport2"/>
      </pipeline>"""), spark)
    val d = Tables.load(spark, sf001, "documents")
    val idx = graft.streaming.StreamingOps.fingerprintIndex(d,
      col("doc_id"), col("text"))
    // corpus admitted against its own index: exact-dup groups flag their
    // other members (id != dup_of), and every row is rejected by admit
    // (its own fingerprint is present) — both via the XML ports.
    val ffGot = ports("ff.outport1").count()
    val ffExp = graft.streaming.StreamingOps.fingerprintAgainst(d,
      col("doc_id"), col("text"), idx).count()
    assert(ffGot == ffExp, s"XML flag count $ffGot == library $ffExp")
    assert(ports("fa.outport1").count() == 0,
      "a corpus admitted against its own index is fully rejected")
    assert(ports("fa.outport1").columns.toSeq == d.columns.toSeq,
      "admit preserves the input schema")
  }

  test("round-13 span admission ops XML == library (self-index law via ports)") {
    import org.apache.spark.sql.functions._
    val ports = PipelineCompiler.compile(PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="d" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="si" class="spanIndex">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
          <arg key="width" value="5"/><arg key="minDf" value="2"/>
        </operator>
        <operator name="ms" class="maskSpansAgainst">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
          <arg key="width" value="5"/>
        </operator>
        <connect from="d.outport1" to="si.inport1"/>
        <connect from="d.outport1" to="ms.inport1"/>
        <connect from="si.outport1" to="ms.inport2"/>
      </pipeline>"""), spark)
    val d = Tables.load(spark, sf001, "documents")
    // corpus masked against its own XML-built index == the one-shot batch
    // operator (the q85 semantics), via the XML ports end to end
    val got = ports("ms.outport1").collect().map(_.toSeq).toSet
    val want = graft.api.GraftOps.maskRepeatedSpans(d, col("doc_id"),
      col("text"), width = 5, minDf = 2).collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty,
      "XML span admission must reproduce maskRepeatedSpans exactly")
  }

  test("round-14 zorderN op XML == library k-column curve (both curves)") {
    import org.apache.spark.sql.functions._
    Seq("z", "hilbert").foreach { curve =>
      val ports = PipelineCompiler.compile(PipelineSpec.parseXml(s"""
        <pipeline>
          <operator name="li" class="parquetInput">
            <arg key="dir" value="$sf001"/><arg key="table" value="lineitem"/>
          </operator>
          <operator name="zn" class="zorderN">
            <arg key="cols" value="l_orderkey,l_partkey,l_suppkey"/>
            <arg key="bits" value="8"/><arg key="curve" value="$curve"/>
          </operator>
          <connect from="li.outport1" to="zn.inport1"/>
        </pipeline>"""), spark)
      val li = Tables.load(spark, sf001, "lineitem")
      val cols = Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      val aggs = cols.flatMap(c => Seq(min(c.cast("long")), max(c.cast("long"))))
      val st = li.agg(aggs.head, aggs.tail: _*).collect()(0)
      val normed = cols.zipWithIndex.map { case (c, j) =>
        graft.api.GraftOps.zorderNormalize(c, st.getLong(2 * j),
          st.getLong(2 * j + 1), 8) }
      val wantCol =
        if (curve == "hilbert") graft.api.GraftOps.hilbertValueN(normed, 8)
        else graft.api.GraftOps.zorderValueN(normed.map(_ -> 8))
      val got = ports("zn.outport1").select(col("l_orderkey"),
        col("l_linenumber"), col("zvalue")).collect().map(_.toSeq).toSet
      val want = li.select(col("l_orderkey"), col("l_linenumber"),
        wantCol.cast("bigint").as("zvalue")).collect().map(_.toSeq).toSet
      assert(got == want && got.nonEmpty,
        s"zorderN($curve) XML must equal the library curve column")
    }
    // mixed per-column widths (the q94 form) via a comma bits list
    val portsMixed = PipelineCompiler.compile(PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="li" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="lineitem"/>
        </operator>
        <operator name="zm" class="zorderN">
          <arg key="cols" value="l_orderkey,l_partkey,l_suppkey"/>
          <arg key="bits" value="8,6,4"/>
        </operator>
        <connect from="li.outport1" to="zm.inport1"/>
      </pipeline>"""), spark)
    val li = Tables.load(spark, sf001, "lineitem")
    val widths = Seq(8, 6, 4)
    val cols = Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val aggs = cols.flatMap(c => Seq(min(c.cast("long")), max(c.cast("long"))))
    val st = li.agg(aggs.head, aggs.tail: _*).collect()(0)
    val normed = cols.zipWithIndex.map { case (c, j) =>
      graft.api.GraftOps.zorderNormalize(c, st.getLong(2 * j),
        st.getLong(2 * j + 1), widths(j)) }
    val gotM = portsMixed("zm.outport1").select(col("l_orderkey"),
      col("l_linenumber"), col("zvalue")).collect().map(_.toSeq).toSet
    val wantM = li.select(col("l_orderkey"), col("l_linenumber"),
      graft.api.GraftOps.zorderValueN(normed.zip(widths))
        .cast("bigint").as("zvalue")).collect().map(_.toSeq).toSet
    assert(gotM == wantM && gotM.nonEmpty,
      "zorderN mixed bits list must equal the library per-column-width curve")
    // curve=compactHilbert with mixed widths: XML == library
    val portsCH = PipelineCompiler.compile(PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="li" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="lineitem"/>
        </operator>
        <operator name="ch" class="zorderN">
          <arg key="cols" value="l_orderkey,l_partkey,l_suppkey"/>
          <arg key="bits" value="8,6,4"/><arg key="curve" value="compactHilbert"/>
        </operator>
        <connect from="li.outport1" to="ch.inport1"/>
      </pipeline>"""), spark)
    val gotCH = portsCH("ch.outport1").select(col("l_orderkey"),
      col("l_linenumber"), col("zvalue")).collect().map(_.toSeq).toSet
    val wantCH = li.select(col("l_orderkey"), col("l_linenumber"),
      graft.api.GraftOps.compactHilbertValue(normed.zip(widths))
        .cast("bigint").as("zvalue")).collect().map(_.toSeq).toSet
    assert(gotCH == wantCH && gotCH.nonEmpty,
      "zorderN compactHilbert XML must equal the library compact walk")
    // hilbert rejects mixed widths loudly (wrapped in the compiler's
    // fail-fast PipelineException), never silently degrades
    intercept[graft.plans.PipelineException] {
      PipelineCompiler.compile(PipelineSpec.parseXml(s"""
        <pipeline>
          <operator name="li" class="parquetInput">
            <arg key="dir" value="$sf001"/><arg key="table" value="lineitem"/>
          </operator>
          <operator name="zh" class="zorderN">
            <arg key="cols" value="l_orderkey,l_partkey"/>
            <arg key="bits" value="8,6"/><arg key="curve" value="hilbert"/>
          </operator>
          <connect from="li.outport1" to="zh.inport1"/>
        </pipeline>"""), spark)("zh.outport1").collect()
    }
  }

  test("round-14 admission append: XML fingerprintAppendSink == rebuild; spanIndexFromCounts parity") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val baseDocs = Seq((0L, "alpha beta gamma"), (1L, "delta epsilon"))
    val newDocs = Seq((2L, "zeta eta theta"))
    val dir = java.nio.file.Files.createTempDirectory("graft-fpx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fpx-ck").toString
    val staging = java.nio.file.Files.createTempDirectory("graft-fpx-in").toString
    try {
      graft.streaming.StreamingOps.fingerprintIndex(baseDocs.toDF("id", "text"),
        col("id"), col("text")).write.mode("append").parquet(dir)
      newDocs.toDF("id", "text").write.mode("overwrite").parquet(staging)
      PipelineCompiler.compile(PipelineSpec.parseXml(s"""
        <pipeline>
          <operator name="nd" class="fileStreamInput">
            <arg key="path" value="$staging"/><arg key="format" value="parquet"/>
            <arg key="schema" value="id BIGINT, text STRING"/>
          </operator>
          <operator name="sink" class="fingerprintAppendSink">
            <arg key="id" value="id"/><arg key="text" value="text"/>
            <arg key="path" value="$dir"/><arg key="checkpoint" value="$ckpt"/>
            <arg key="name" value="fpAppendXml"/>
            <arg key="trigger" value="availableNow"/>
          </operator>
          <connect from="nd.outport1" to="sink.inport1"/>
        </pipeline>"""), spark)
      val q = spark.streams.active.find(_.name == "fpAppendXml")
        .getOrElse(fail("fingerprintAppendSink did not start a named query"))
      try assert(q.awaitTermination(120000), "availableNow append did not finish")
      finally q.stop()
      val arrivals = Seq((100L, "zeta eta theta"), (200L, "novel")).toDF("id", "text")
      val got = graft.streaming.StreamingOps.fingerprintAgainst(arrivals,
          col("id"), col("text"), spark.read.parquet(dir))
        .as[(Long, Long)].collect().toSet
      assert(got == Set((100L, 2L)),
        s"XML-appended fingerprint index must flag the appended dup: $got")
    } finally {
      import scala.reflect.io.Directory
      Seq(dir, ckpt, staging).foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
    // spanIndexFromCounts: XML op row-equal to the library derivation
    val docs = Seq((10L, "one two three four five six"),
      (11L, "one two three four five seven")).toDF("id", "text")
    graft.api.GraftOps.spanIndexCounts(docs, col("id"), col("text"), width = 5)
      .createOrReplaceTempView("span_counts_v")
    val ports = PipelineCompiler.compile(PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="c" class="viewInput"><arg key="table" value="span_counts_v"/></operator>
        <operator name="ix" class="spanIndexFromCounts"><arg key="minDf" value="2"/></operator>
        <connect from="c.outport1" to="ix.inport1"/>
      </pipeline>"""), spark)
    val gotIx = ports("ix.outport1").as[Long].collect().toSet
    val wantIx = graft.api.GraftOps.spanIndex(docs, col("id"), col("text"),
      width = 5, minDf = 2).as[Long].collect().toSet
    assert(gotIx == wantIx && gotIx.nonEmpty,
      "spanIndexFromCounts XML op must equal the one-shot spanIndex")
  }

  test("round-14 media admission ops XML == library (image/audio/video flags via ports)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.MultimodalOps
    import graft.streaming.StreamingOps
    // one deterministic payload family per modality; arrival 100 is a
    // byte-exact re-encode of corpus item 1 in each
    def png(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = math.abs((seed * 7919 + x * 131 + y * 31) % 256)
        img.setRGB(x, y, (v << 16) | (v << 8) | v) }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    def wav(seed: Int): Array[Byte] = {
      val n = 256
      val pcm = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        val v = (seed * 131 + i * 17) % 1000
        pcm(2 * i) = (v & 0xff).toByte; pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    def gif(seed: Int): Array[Byte] =
      MultimodalOps.syntheticGrayGif(8, 8, 3,
        (f, x, y) => math.abs((seed * 997 + f * 131 + x * 31 + y * 7) % 256))
    val cases = Seq(
      ("image", "imageDupIndex", "imageDupFlag", png _,
        (c: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =>
          StreamingOps.imageDupAgainst(a, col("id"), col("payload"),
            StreamingOps.imageDupIndex(c, col("doc_id"), col("payload")))),
      ("audio", "audioDupIndex", "audioDupFlag", wav _,
        (c: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =>
          StreamingOps.audioDupAgainst(a, col("id"), col("payload"),
            StreamingOps.audioDupIndex(c, col("doc_id"), col("payload")))),
      ("video", "videoDupIndex", "videoDupFlag", gif _,
        (c: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =>
          StreamingOps.videoDupAgainst(a, col("id"), col("payload"),
            StreamingOps.videoDupIndex(c, col("doc_id"), col("payload")))))
    cases.foreach { case (kind, idxOp, flagOp, mk, lib) =>
      val corpus = (0 until 3).map(i => (i.toLong, mk(i))).toDF("doc_id", "payload")
      val arrivals = Seq((100L, mk(1)), (200L, mk(9))).toDF("id", "payload")
      corpus.createOrReplaceTempView(s"ma_corpus_$kind")
      arrivals.createOrReplaceTempView(s"ma_arrivals_$kind")
      val ports = PipelineCompiler.compile(PipelineSpec.parseXml(s"""
        <pipeline>
          <operator name="c" class="viewInput"><arg key="table" value="ma_corpus_$kind"/></operator>
          <operator name="a" class="viewInput"><arg key="table" value="ma_arrivals_$kind"/></operator>
          <operator name="ix" class="$idxOp">
            <arg key="id" value="doc_id"/><arg key="payload" value="payload"/>
          </operator>
          <operator name="fl" class="$flagOp">
            <arg key="id" value="id"/><arg key="payload" value="payload"/>
          </operator>
          <connect from="c.outport1" to="ix.inport1"/>
          <connect from="a.outport1" to="fl.inport1"/>
          <connect from="ix.outport1" to="fl.inport2"/>
        </pipeline>"""), spark)
      val got = ports("fl.outport1").collect().map(_.toSeq).toSet
      val want = lib(corpus, arrivals).collect().map(_.toSeq).toSet
      assert(got == want && got.exists(_.take(2) == Seq(100L, 1L)),
        s"$kind XML admission must equal the library path and flag the re-encode: $got")
    }
  }

  test("diamond DAG topology compiles (join of two branches)") {
    val spec = PipelineSpec(
      nodes = Seq(
        OpNode("src", "parquetInput", Map("dir" -> sf001, "table" -> "orders")),
        OpNode("hi", "filter", Map("predicate" -> "o_totalprice > 100000")),
        OpNode("lo", "filter", Map("predicate" -> "o_totalprice <= 100000")),
        OpNode("uni", "join", Map("condition" -> "true", "joinType" -> "inner"))),
      edges = Seq(
        Edge("src.outport1", "hi.inport1"), Edge("src.outport1", "lo.inport1"),
        Edge("hi.outport1", "uni.inport1"), Edge("lo.outport1", "uni.inport2")))
    val ports = PipelineCompiler.compile(spec, spark)
    assert(ports.contains("uni.outport1"))
  }

  test("trigger=availableNow runs the spec as a finite catch-up job that self-stops") {
    val dir = java.nio.file.Files.createTempDirectory("an-in")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      """{"id": 7, "v": "x"}""" + "\n" + """{"id": 8, "v": "y"}""" + "\n")
    val xml = s"""
      <pipeline>
        <operator name="src" class="fileStreamInput">
          <arg key="schema" value="id BIGINT, v STRING"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${dir.toUri}"/>
        </operator>
        <operator name="sink" class="memoryStreamSink">
          <arg key="name" value="an_out"/>
          <arg key="trigger" value="availableNow"/>
        </operator>
        <connect from="src.outport1" to="sink.inport1"/>
      </pipeline>"""
    PipelineCompiler.compile(PipelineSpec.parseXml(xml), spark)
    val q = spark.streams.active.find(_.name == "an_out")
      .getOrElse(fail("availableNow query not started"))
    try {
      // AvailableNow consumes what exists, then TERMINATES on its own —
      // the backfill contract (a ProcessingTime query would idle forever)
      assert(q.awaitTermination(60000), "query must self-stop after catch-up")
      assert(spark.table("an_out").count() == 2)
    } finally if (q.isActive) q.stop()
    // unknown trigger names fail the compile loudly, not silently default
    val bad = xml.replace("availableNow", "continuousish")
    val e = intercept[PipelineException](
      PipelineCompiler.compile(PipelineSpec.parseXml(bad), spark))
    assert(e.getMessage.contains("unknown trigger"))
  }

  test("STREAMING spec compiles from XML end-to-end (ref S1 flow, 10 s trigger)") {
    // The reference's defining capability is a *streaming* XML DAG
    // (KafkaInput→AddField→KafkaOutput on a 10 s cadence). Connector-free
    // twin: fileStreamInput → addField → memoryStreamSink, default trigger
    // = the reference 10 s ProcessingTime (first batch fires immediately,
    // so processAllAvailable drains pre-written data without waiting).
    val dir = java.nio.file.Files.createTempDirectory("stream-in")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      """{"id": 1, "v": "x"}""" + "\n" + """{"id": 2, "v": "y"}""" + "\n")
    val xml = s"""
      <pipeline>
        <operator name="src" class="fileStreamInput">
          <arg key="schema" value="id BIGINT, v STRING"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${dir.toUri}"/>
        </operator>
        <operator name="af" class="addField">
          <arg key="name" value="doubled"/><arg key="expr" value="id * 2"/>
        </operator>
        <operator name="sink" class="memoryStreamSink">
          <arg key="name" value="s1_pipeline_out"/>
        </operator>
        <connect from="src.outport1" to="af.inport1"/>
        <connect from="af.outport1" to="sink.inport1"/>
      </pipeline>"""
    PipelineCompiler.compile(PipelineSpec.parseXml(xml), spark)
    val q = spark.streams.active.find(_.name == "s1_pipeline_out")
      .getOrElse(fail("compiled streaming sink did not start a query"))
    try {
      q.processAllAvailable()
      val rows = spark.table("s1_pipeline_out")
        .select("id", "doubled").orderBy("id").collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L), (2L, 4L)))
    } finally q.stop()
  }

  test("sink shufflePartitions arg sizes the state store and restores the session conf") {
    // the declarative form of StreamingOps.sizedShufflePartitions: a
    // stateful XML pipeline whose sink declares its own shuffle-partition
    // count — the override must reach the state store, the session conf
    // must come back untouched, and spark.streams discovery must survive
    // (the set/restore-around-start contract).
    val dir = java.nio.file.Files.createTempDirectory("sized-stream-in")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      """{"id": 1, "v": "x"}""" + "\n" + """{"id": 2, "v": "y"}""" + "\n" +
      """{"id": 3, "v": "x"}""" + "\n")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val xml = s"""
      <pipeline>
        <operator name="src" class="fileStreamInput">
          <arg key="schema" value="id BIGINT, v STRING"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${dir.toUri}"/>
        </operator>
        <operator name="agg" class="aggregate">
          <arg key="groupBy" value="v"/>
          <arg key="aggs" value="count(1) AS n"/>
        </operator>
        <operator name="sink" class="memoryStreamSink">
          <arg key="name" value="sized_sink_out"/>
          <arg key="outputMode" value="complete"/>
          <arg key="triggerMs" value="0"/>
          <arg key="shufflePartitions" value="3"/>
        </operator>
        <connect from="src.outport1" to="agg.inport1"/>
        <connect from="agg.outport1" to="sink.inport1"/>
      </pipeline>"""
    PipelineCompiler.compile(PipelineSpec.parseXml(xml), spark)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "sink compile must restore the session's shuffle-partition conf")
    val q = spark.streams.active.find(_.name == "sized_sink_out")
      .getOrElse(fail("sized streaming sink did not start a discoverable query"))
    try {
      q.processAllAvailable()
      val so = q.lastProgress.stateOperators
      assert(so.nonEmpty && so.head.numShufflePartitions == 3L,
        s"state operator must run 3 partitions; progress: ${q.lastProgress.json}")
      val rows = spark.table("sized_sink_out").orderBy("v").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.toSeq == Seq(("x", 2L), ("y", 1L)))
    } finally q.stop()
  }

  test("ANN index family composes in XML: kmeansFit + pqFit -> encode -> search -> rerank") {
    // the full build-once/search-many story as a declarative DAG,
    // asserted row-for-row equal to the inline Scala two-stage search
    // (every trainer is deterministic, so XML-trained models == API-
    // trained models and the final exact-rank rows must bit-match)
    import org.apache.spark.sql.functions._
    import graft.api.GraftOps
    val emb = Tables.load(spark, sf001, "embeddings")
    emb.createOrReplaceTempView("emb_ann")
    emb.filter(col("vec_id") < 10).createOrReplaceTempView("emb_ann_probes")
    val ports = PipelineCompiler.compile(PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="src" class="viewInput"><arg key="table" value="emb_ann"/></operator>
        <operator name="probes" class="viewInput"><arg key="table" value="emb_ann_probes"/></operator>
        <operator name="coarse" class="kmeansFit">
          <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
          <arg key="k" value="4"/><arg key="iters" value="1"/>
        </operator>
        <operator name="pq" class="pqFit">
          <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
          <arg key="dim" value="64"/><arg key="m" value="4"/>
          <arg key="ksub" value="4"/><arg key="iters" value="1"/>
        </operator>
        <operator name="enc" class="ivfPqEncode">
          <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
          <arg key="dim" value="64"/>
        </operator>
        <operator name="search" class="ivfPqSearch">
          <arg key="id" value="id"/><arg key="cell" value="cell"/>
          <arg key="codes" value="codes"/>
          <arg key="probeId" value="vec_id"/><arg key="probeVec" value="embedding"/>
          <arg key="k" value="6"/><arg key="nprobe" value="2"/>
        </operator>
        <operator name="rr" class="annRerank">
          <arg key="slProbeId" value="probe_id"/><arg key="slCandId" value="id"/>
          <arg key="probeId" value="vec_id"/><arg key="probeVec" value="embedding"/>
          <arg key="vecId" value="vec_id"/><arg key="vec" value="embedding"/>
          <arg key="k" value="3"/>
        </operator>
        <connect from="src.outport1" to="coarse.inport1"/>
        <connect from="src.outport1" to="pq.inport1"/>
        <connect from="src.outport1" to="enc.inport1"/>
        <connect from="coarse.outport1" to="enc.inport2"/>
        <connect from="pq.outport1" to="enc.inport3"/>
        <connect from="enc.outport1" to="search.inport1"/>
        <connect from="probes.outport1" to="search.inport2"/>
        <connect from="coarse.outport1" to="search.inport3"/>
        <connect from="pq.outport1" to="search.inport4"/>
        <connect from="search.outport1" to="rr.inport1"/>
        <connect from="probes.outport1" to="rr.inport2"/>
        <connect from="src.outport1" to="rr.inport3"/>
      </pipeline>"""), spark)
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "id", "rank", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val got = tuples(ports("rr.outport1"))
    val coarse = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"), k = 4, iters = 1)
    val model = GraftOps.pqFit(emb, col("vec_id"), col("embedding"),
      dim = 64, m = 4, ksub = 4, iters = 1)
    val want = tuples(GraftOps.ivfPqTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 10, coarse, model, 64, k = 3, nprobe = 2, rerank = 6))
    assert(got.nonEmpty && got == want,
      s"XML ANN chain diverged from the inline two-stage search: got ${got.size}, want ${want.size}")
  }

  test("nearDupIndex/nearDupAdmit compose in XML: streaming admission control") {
    // the q16 family's incremental twin, declaratively: a batch corpus
    // builds the band index, a file stream of arrivals joins it, and the
    // flagged (id, dup_of) pairs land in the sink — the S10 semantics
    // through the reference's XML DAG surface.
    import spark.implicits._
    val base = "spark is a unified analytics engine for large scale data processing with apis"
    Seq((1L, base),
        (2L, "totally different cooking text about pasta tomatoes basil and olive oil"))
      .toDF("doc_id", "text").createOrReplaceTempView("admit_corpus")
    val dir = java.nio.file.Files.createTempDirectory("admit-stream-in")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      s"""{"id": 100, "text": "$base in scala"}""" + "\n" +
      """{"id": 200, "text": "novel text on gardening tulips soil watering sunlight and bees"}""" + "\n")
    val xml = s"""
      <pipeline>
        <operator name="corpus" class="viewInput">
          <arg key="table" value="admit_corpus"/>
        </operator>
        <operator name="idx" class="nearDupIndex">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
        </operator>
        <operator name="arrivals" class="fileStreamInput">
          <arg key="schema" value="id BIGINT, text STRING"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${dir.toUri}"/>
        </operator>
        <operator name="admit" class="nearDupAdmit">
          <arg key="id" value="id"/><arg key="text" value="text"/>
          <arg key="minMatches" value="6"/>
        </operator>
        <operator name="sink" class="memoryStreamSink">
          <arg key="name" value="admit_out"/>
          <arg key="triggerMs" value="0"/>
        </operator>
        <connect from="corpus.outport1" to="idx.inport1"/>
        <connect from="arrivals.outport1" to="admit.inport1"/>
        <connect from="idx.outport1" to="admit.inport2"/>
        <connect from="admit.outport1" to="sink.inport1"/>
      </pipeline>"""
    PipelineCompiler.compile(PipelineSpec.parseXml(xml), spark)
    val q = spark.streams.active.find(_.name == "admit_out")
      .getOrElse(fail("admission pipeline did not start"))
    try {
      q.processAllAvailable()
      val flagged = spark.table("admit_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(flagged == Set((100L, 1L)),
        s"near-dup arrival flagged, novel doc admitted: $flagged")
    } finally q.stop()
  }

  test("assignSplits is stream-ready: splits assigned inside a STREAMING XML pipeline") {
    // split assignment is a pure narrow projection of the key hash, so a
    // stream can tag arrivals with their split on ingestion — and because
    // membership is a pure function of the key, the streamed assignment
    // must equal the batch assignment row-for-row
    val dir = java.nio.file.Files.createTempDirectory("split-stream-in")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      (1 to 40).map(i => s"""{"id": $i}""").mkString("\n") + "\n")
    val xml = s"""
      <pipeline>
        <operator name="src" class="fileStreamInput">
          <arg key="schema" value="id BIGINT"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${dir.toUri}"/>
        </operator>
        <operator name="spl" class="assignSplits">
          <arg key="key" value="id"/>
          <arg key="splits" value="train:800000;valid:200000"/>
        </operator>
        <operator name="sink" class="memoryStreamSink">
          <arg key="name" value="split_stream_out"/>
          <arg key="triggerMs" value="0"/>
        </operator>
        <connect from="src.outport1" to="spl.inport1"/>
        <connect from="spl.outport1" to="sink.inport1"/>
      </pipeline>"""
    PipelineCompiler.compile(PipelineSpec.parseXml(xml), spark)
    val q = spark.streams.active.find(_.name == "split_stream_out")
      .getOrElse(fail("streaming split pipeline did not start"))
    try {
      q.processAllAvailable()
      val streamed = spark.table("split_stream_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed.keySet == (1L to 40L).toSet)
      assert(streamed.values.toSet.subsetOf(Set("train", "valid")))
      import spark.implicits._
      val batch = graft.api.GraftOps.assignSplits(
          (1L to 40L).toDF("id"), org.apache.spark.sql.functions.col("id"),
          Seq("train" -> 800000, "valid" -> 200000))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == batch, "streamed assignment must equal batch")
    } finally q.stop()
  }

  test("validate is stream-ready: runs inside a STREAMING XML pipeline") {
    // the admission-control claim (withViolations is a pure narrow
    // projection) proven end-to-end: file stream -> validate -> memory
    // sink, violations surfacing per-row with their reasons
    val dir = java.nio.file.Files.createTempDirectory("val-stream-in")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      """{"id": 1, "txt": "ok text"}""" + "\n" +
      """{"id": 2, "txt": ""}""" + "\n" +
      """{"id": 3, "txt": null}""" + "\n")
    val xml = s"""
      <pipeline>
        <operator name="src" class="fileStreamInput">
          <arg key="schema" value="id BIGINT, txt STRING"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${dir.toUri}"/>
        </operator>
        <operator name="val" class="validate">
          <arg key="checks" value="nonempty:length(trim(txt)) &gt; 0;id_positive:id &gt; 0"/>
        </operator>
        <operator name="sink" class="memoryStreamSink">
          <arg key="name" value="validate_stream_out"/>
          <arg key="triggerMs" value="0"/>
        </operator>
        <connect from="src.outport1" to="val.inport1"/>
        <connect from="val.outport1" to="sink.inport1"/>
      </pipeline>"""
    PipelineCompiler.compile(PipelineSpec.parseXml(xml), spark)
    val q = spark.streams.active.find(_.name == "validate_stream_out")
      .getOrElse(fail("streaming validate pipeline did not start"))
    try {
      q.processAllAvailable()
      val rows = spark.table("validate_stream_out")
        .selectExpr("id", "array_join(violations, ',')", "is_valid")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
      assert(rows(1L) == (("", true)))
      assert(rows(2L) == (("nonempty", false)))
      assert(rows(3L) == (("nonempty", false)),
        "NULL text must be an unevaluable -> failed constraint on a stream too")
    } finally q.stop()
  }

  test("round-16 ewmaStream composes in a STREAMING XML pipeline == batch ewma") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("ewma-stream-in")
    // two keys, unordered lines within the file (in-batch sort contract)
    val lines = Seq(
      """{"k": 1, "t": "2024-01-01 10:02:00", "n": 3, "v": 40.0}""",
      """{"k": 1, "t": "2024-01-01 10:00:00", "n": 1, "v": 10.0}""",
      """{"k": 2, "t": "2024-01-01 10:00:00", "n": 2, "v": 7.5}""",
      """{"k": 1, "t": "2024-01-01 10:01:00", "n": 2, "v": 20.0}""")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      lines.mkString("\n") + "\n")
    val xml = s"""
      <pipeline>
        <operator name="src" class="fileStreamInput">
          <arg key="schema" value="k LONG, t TIMESTAMP, n LONG, v DOUBLE"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${dir.toUri}"/>
        </operator>
        <operator name="sm" class="ewmaStream">
          <arg key="key" value="k"/><arg key="ts" value="t"/>
          <arg key="tiebreak" value="n"/><arg key="value" value="v"/>
          <arg key="alphaPpm" value="250000"/>
        </operator>
        <operator name="sink" class="memoryStreamSink">
          <arg key="name" value="ewma_stream_out"/>
          <arg key="triggerMs" value="0"/>
        </operator>
        <connect from="src.outport1" to="sm.inport1"/>
        <connect from="sm.outport1" to="sink.inport1"/>
      </pipeline>"""
    PipelineCompiler.compile(PipelineSpec.parseXml(xml), spark)
    val q = spark.streams.active.find(_.name == "ewma_stream_out")
      .getOrElse(fail("compiled ewmaStream pipeline did not start a query"))
    try {
      q.processAllAvailable()
      val got = spark.table("ewma_stream_out").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(4))).toSet
      val batch = graft.api.GraftOps.ewma(
          spark.read.schema("k LONG, t TIMESTAMP, n LONG, v DOUBLE")
            .json(dir.toString),
          col("k"), col("t"), col("v"), col("n"), 250000L)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(4))).toSet
      assert(got == batch, s"XML stream $got != batch ewma $batch")
      assert(got.size == 4)
    } finally q.stop()
  }

  test("frequencyCap XML == API; frequencyCapStream composes in a STREAMING XML pipeline == batch cap") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // batch face: XML binding row-equal to the API call
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
        (1L, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 2L),
        (1L, java.sql.Timestamp.valueOf("2024-01-01 10:02:00"), 3L),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 4L))
      .toDF("k", "t", "n").createOrReplaceTempView("fc_rows")
    val spec = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="in1" class="viewInput"><arg key="table" value="fc_rows"/></operator>
        <operator name="cap" class="frequencyCap">
          <arg key="key" value="k"/><arg key="ts" value="t"/>
          <arg key="tiebreak" value="n"/><arg key="k" value="2"/>
        </operator>
        <connect from="in1.outport1" to="cap.inport1"/>
      </pipeline>""")
    val got = graft.plans.PipelineCompiler.compile(spec, spark)("cap.outport1")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val api = graft.api.GraftOps.frequencyCap(spark.table("fc_rows"),
        col("k"), col("t"), col("n"), 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == api && got == Set((1L, 1L), (1L, 2L), (2L, 4L)),
      s"XML cap == API cap: $got")
    // streaming face: XML pipeline through a file stream == batch
    val dir = java.nio.file.Files.createTempDirectory("fcap-stream-in")
    val lines = Seq(
      """{"k": 1, "t": "2024-01-01 10:02:00", "n": 3}""",
      """{"k": 1, "t": "2024-01-01 10:00:00", "n": 1}""",
      """{"k": 2, "t": "2024-01-01 10:00:00", "n": 4}""",
      """{"k": 1, "t": "2024-01-01 10:01:00", "n": 2}""")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      lines.mkString("\n") + "\n")
    val xml = s"""
      <pipeline>
        <operator name="src" class="fileStreamInput">
          <arg key="schema" value="k LONG, t TIMESTAMP, n LONG"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${dir.toUri}"/>
        </operator>
        <operator name="fc" class="frequencyCapStream">
          <arg key="key" value="k"/><arg key="ts" value="t"/>
          <arg key="tiebreak" value="n"/><arg key="k" value="2"/>
        </operator>
        <operator name="sink" class="memoryStreamSink">
          <arg key="name" value="fcap_stream_out"/>
          <arg key="triggerMs" value="0"/>
        </operator>
        <connect from="src.outport1" to="fc.inport1"/>
        <connect from="fc.outport1" to="sink.inport1"/>
      </pipeline>"""
    PipelineCompiler.compile(PipelineSpec.parseXml(xml), spark)
    val q = spark.streams.active.find(_.name == "fcap_stream_out")
      .getOrElse(fail("compiled frequencyCapStream pipeline did not start"))
    try {
      q.processAllAvailable()
      val sGot = spark.table("fcap_stream_out")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(sGot == Set((1L, 1L), (1L, 2L), (2L, 4L)),
        s"XML stream cap: $sGot")
    } finally q.stop()
  }

  test("round-16 transitionStream composes in a STREAMING XML pipeline == batch steps") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("trans-stream-in")
    val lines = Seq(
      """{"k": 1, "t": "2024-01-01 10:01:00", "n": 2, "s": "B"}""",
      """{"k": 1, "t": "2024-01-01 10:00:00", "n": 1, "s": "A"}""",
      """{"k": 2, "t": "2024-01-01 10:00:00", "n": 3, "s": "C"}""",
      """{"k": 1, "t": "2024-01-01 10:02:00", "n": 4, "s": "A"}""")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      lines.mkString("\n") + "\n")
    val xml = s"""
      <pipeline>
        <operator name="src" class="fileStreamInput">
          <arg key="schema" value="k LONG, t TIMESTAMP, n LONG, s STRING"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${dir.toUri}"/>
        </operator>
        <operator name="ts" class="transitionStream">
          <arg key="key" value="k"/><arg key="ts" value="t"/>
          <arg key="tiebreak" value="n"/><arg key="state" value="s"/>
        </operator>
        <operator name="sink" class="memoryStreamSink">
          <arg key="name" value="trans_stream_out"/>
          <arg key="triggerMs" value="0"/>
        </operator>
        <connect from="src.outport1" to="ts.inport1"/>
        <connect from="ts.outport1" to="sink.inport1"/>
      </pipeline>"""
    PipelineCompiler.compile(PipelineSpec.parseXml(xml), spark)
    val q = spark.streams.active.find(_.name == "trans_stream_out")
      .getOrElse(fail("compiled transitionStream pipeline did not start"))
    try {
      q.processAllAvailable()
      val got = spark.table("trans_stream_out")
        .collect().map(r => (r.getLong(0), r.getLong(2),
          r.getString(3), r.getString(4))).toSet
      assert(got == Set((1L, 2L, "A", "B"), (1L, 4L, "B", "A")),
        s"XML transition steps: $got")
    } finally q.stop()
  }

  test("round-16 cusumStream composes in a STREAMING XML pipeline == batch cusum") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("cusum-stream-in")
    // key 1 drifts high and alarms at its second point (target 10,
    // slack 2, threshold 15); unordered lines exercise the in-batch sort
    val lines = Seq(
      """{"k": 1, "t": "2024-01-01 10:01:00", "n": 2, "v": 20}""",
      """{"k": 1, "t": "2024-01-01 10:00:00", "n": 1, "v": 20}""",
      """{"k": 2, "t": "2024-01-01 10:00:00", "n": 3, "v": 9}""",
      """{"k": 1, "t": "2024-01-01 10:02:00", "n": 4, "v": 5}""")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      lines.mkString("\n") + "\n")
    val xml = s"""
      <pipeline>
        <operator name="src" class="fileStreamInput">
          <arg key="schema" value="k LONG, t TIMESTAMP, n LONG, v LONG"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${dir.toUri}"/>
        </operator>
        <operator name="cu" class="cusumStream">
          <arg key="key" value="k"/><arg key="ts" value="t"/>
          <arg key="tiebreak" value="n"/><arg key="value" value="v"/>
          <arg key="target" value="10"/><arg key="slack" value="2"/>
          <arg key="threshold" value="15"/>
        </operator>
        <operator name="sink" class="memoryStreamSink">
          <arg key="name" value="cusum_stream_out"/>
          <arg key="triggerMs" value="0"/>
        </operator>
        <connect from="src.outport1" to="cu.inport1"/>
        <connect from="cu.outport1" to="sink.inport1"/>
      </pipeline>"""
    PipelineCompiler.compile(PipelineSpec.parseXml(xml), spark)
    val q = spark.streams.active.find(_.name == "cusum_stream_out")
      .getOrElse(fail("compiled cusumStream pipeline did not start a query"))
    try {
      q.processAllAvailable()
      val got = spark.table("cusum_stream_out").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(4), r.getLong(5),
          r.getBoolean(6))).toSet
      val batch = graft.api.GraftOps.cusum(
          spark.read.schema("k LONG, t TIMESTAMP, n LONG, v LONG")
            .json(dir.toString),
          col("k"), col("t"), col("v"), col("n"), 10L, 2L, 15L)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4),
          r.getLong(5), r.getBoolean(6))).toSet
      assert(got == batch, s"XML stream $got != batch cusum $batch")
      assert(got.contains((1L, 2L, 16L, 0L, true)), s"key1 alarms: $got")
    } finally q.stop()
  }

  test("round-16 rollingDistinctStream composes in a STREAMING XML pipeline == batch grid") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("roll-stream-in")
    // 3 distinct (entity, day) pairs (one same-day duplicate) x window 2
    val lines = Seq(
      """{"e": 1, "t": "2024-03-01 09:00:00"}""",
      """{"e": 1, "t": "2024-03-01 17:00:00"}""",
      """{"e": 1, "t": "2024-03-02 09:00:00"}""",
      """{"e": 2, "t": "2024-03-02 12:00:00"}""")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      lines.mkString("\n") + "\n")
    val xml = s"""
      <pipeline>
        <operator name="src" class="fileStreamInput">
          <arg key="schema" value="e LONG, t TIMESTAMP"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${dir.toUri}"/>
        </operator>
        <operator name="rd" class="rollingDistinctStream">
          <arg key="entity" value="e"/><arg key="ts" value="t"/>
          <arg key="windowDays" value="2"/><arg key="lateDays" value="1"/>
        </operator>
        <operator name="sink" class="memoryStreamSink">
          <arg key="name" value="roll_stream_out"/>
          <arg key="triggerMs" value="0"/>
        </operator>
        <connect from="src.outport1" to="rd.inport1"/>
        <connect from="rd.outport1" to="sink.inport1"/>
      </pipeline>"""
    PipelineCompiler.compile(PipelineSpec.parseXml(xml), spark)
    val q = spark.streams.active.find(_.name == "roll_stream_out")
      .getOrElse(fail("compiled rollingDistinctStream pipeline did not start"))
    try {
      q.processAllAvailable()
      val contrib = spark.table("roll_stream_out")
      // distinct (entity, target) pairs: e1 -> Mar1..Mar3, e2 -> Mar2..Mar3
      assert(contrib.count() == 5, s"distinct targets: ${contrib.count()}")
      val visits = spark.read.schema("e LONG, t TIMESTAMP").json(dir.toString)
      val want = graft.api.GraftOps.rollingDistinct(visits, col("e"),
          col("t"), windowDays = 2)
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      val days = visits.select(to_date(col("t")).as("day")).distinct()
      val got = contrib.join(days,
          contrib("target_day") === days("day"), "left_semi")
        .groupBy(col("target_day")).agg(count(lit(1)).as("active"))
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      assert(got == want, s"XML stream-agg $got != batch $want")
    } finally q.stop()
  }

  test("round-12 heavyHittersStream composes in a STREAMING XML pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("hh-stream-in")
    // 30 "hot", 6 "warm", 4 singletons — capacity 4 keeps hot+warm
    val lines = (Seq.fill(30)("hot") ++ Seq.fill(6)("warm") ++
      (1 to 4).map(i => s"n$i")).map(k => s"""{"k": "$k"}""")
    java.nio.file.Files.writeString(dir.resolve("a.json"), lines.mkString("\n") + "\n")
    val xml = s"""
      <pipeline>
        <operator name="src" class="fileStreamInput">
          <arg key="schema" value="k STRING"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${dir.toUri}"/>
        </operator>
        <operator name="hh" class="heavyHittersStream">
          <arg key="key" value="k"/><arg key="capacity" value="4"/>
        </operator>
        <operator name="sink" class="memoryStreamSink">
          <arg key="name" value="hh_stream_out"/>
          <arg key="outputMode" value="complete"/>
        </operator>
        <connect from="src.outport1" to="hh.inport1"/>
        <connect from="hh.outport1" to="sink.inport1"/>
      </pipeline>"""
    PipelineCompiler.compile(PipelineSpec.parseXml(xml), spark)
    val q = spark.streams.active.find(_.name == "hh_stream_out")
      .getOrElse(fail("compiled streaming sink did not start a query"))
    try {
      q.processAllAvailable()
      val summary = spark.table("hh_stream_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(summary.contains("hot") && summary.contains("warm"),
        s"true heavy keys must survive: $summary")
      assert(summary.size <= 4, "summary bounded by capacity")
      val n = lines.size; val bound = n / 5
      assert(summary("hot") >= 30 - bound && summary("hot") <= 30)
    } finally q.stop()
  }

  test("cycle is rejected with an explicit error") {
    val spec = PipelineSpec(
      nodes = Seq(
        OpNode("a", "filter", Map("predicate" -> "true")),
        OpNode("b", "filter", Map("predicate" -> "true"))),
      edges = Seq(Edge("a.outport1", "b.inport1"), Edge("b.outport1", "a.inport1")))
    val e = intercept[PipelineException](PipelineCompiler.compile(spec, spark))
    assert(e.getMessage.contains("cycle"))
  }

  test("unknown operator fail-fasts with the reference's message shape") {
    val spec = PipelineSpec(
      nodes = Seq(OpNode("x", "noSuchOp", Map())), edges = Nil)
    val e = intercept[PipelineException](PipelineCompiler.compile(spec, spark))
    assert(e.getMessage.startsWith("x run failed."))
  }

  test("changelog ops compose in XML: applyChanges + scd2 == library forms") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="ev" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="events"/>
        </operator>
        <operator name="ac" class="applyChanges">
          <arg key="key" value="user_id"/><arg key="version" value="ts"/>
          <arg key="tiebreak" value="event_id"/>
          <arg key="isDelete" value="event_type = 'error'"/>
        </operator>
        <operator name="hist" class="scd2">
          <arg key="key" value="user_id"/><arg key="ts" value="ts"/>
          <arg key="tiebreak" value="event_id"/>
          <arg key="isDelete" value="event_type = 'error'"/>
        </operator>
        <connect from="ev.outport1" to="ac.inport1"/>
        <connect from="ev.outport1" to="hist.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val ev = Tables.load(spark, sf001, "events")
    val acWant = graft.api.GraftOps.applyChanges(ev, Seq(col("user_id")),
      col("ts"), col("event_id"), col("event_type") === "error")
    val acGot = ports("ac.outport1")
    assert(acGot.exceptAll(acWant).isEmpty && acWant.exceptAll(acGot).isEmpty &&
      acGot.count() > 0, "XML applyChanges == library applyChanges")
    val hWant = graft.api.GraftOps.scd2(ev, Seq(col("user_id")),
      col("ts"), col("event_id"), col("event_type") === "error")
    val hGot = ports("hist.outport1")
    assert(hGot.exceptAll(hWant).isEmpty && hWant.exceptAll(hGot).isEmpty &&
      hGot.count() > 0, "XML scd2 == library scd2")
  }

  test("corpusDrift registry op == library form (two snapshot inports)") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="ev" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="events"/>
        </operator>
        <operator name="old" class="filter">
          <arg key="predicate" value="ts &lt; TIMESTAMP '2024-01-16 00:00:00'"/>
        </operator>
        <operator name="new" class="filter">
          <arg key="predicate" value="ts &gt;= TIMESTAMP '2024-01-16 00:00:00'"/>
        </operator>
        <operator name="drift" class="corpusDrift">
          <arg key="category" value="event_type"/>
        </operator>
        <connect from="ev.outport1" to="old.inport1"/>
        <connect from="ev.outport1" to="new.inport1"/>
        <connect from="old.outport1" to="drift.inport1"/>
        <connect from="new.outport1" to="drift.inport2"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val ev = Tables.load(spark, sf001, "events")
    val split = expr("TIMESTAMP '2024-01-16 00:00:00'")
    val want = graft.api.GraftOps.corpusDrift(
      ev.filter(col("ts") < split), ev.filter(col("ts") >= split),
      col("event_type"))
    val got = ports("drift.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML corpusDrift == library corpusDrift")
  }

  test("linkRank registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="docs" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="edges" class="select">
          <arg key="exprs" value="doc_id AS src; (doc_id * 7 + 1) % 500 AS dst"/>
        </operator>
        <operator name="pr" class="linkRank">
          <arg key="src" value="src"/><arg key="dst" value="dst"/>
          <arg key="iterations" value="2"/>
        </operator>
        <connect from="docs.outport1" to="edges.inport1"/>
        <connect from="edges.outport1" to="pr.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val ed = Tables.load(spark, sf001, "documents")
      .select(col("doc_id").as("src"), ((col("doc_id") * 7 + 1) % 500).as("dst"))
    val want = graft.api.GraftOps.linkRank(ed, col("src"), col("dst"), 2)
    val got = ports("pr.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML linkRank == library linkRank")
  }

  test("triangleCounts registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="docs" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="edges" class="select">
          <arg key="exprs" value="doc_id AS src; (doc_id + 1) % 500 AS dst"/>
        </operator>
        <operator name="tc" class="triangleCounts">
          <arg key="src" value="src"/><arg key="dst" value="dst"/>
        </operator>
        <connect from="docs.outport1" to="edges.inport1"/>
        <connect from="edges.outport1" to="tc.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val ed = Tables.load(spark, sf001, "documents")
      .select(col("doc_id").as("src"), ((col("doc_id") + 1) % 500).as("dst"))
    val want = graft.api.GraftOps.triangleCounts(ed, col("src"), col("dst"))
    val got = ports("tc.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML triangleCounts == library triangleCounts")
  }

  test("bm25TopK registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="docs" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="qs" class="select">
          <arg key="exprs" value="doc_id AS qid; text AS qtext"/>
        </operator>
        <operator name="f" class="filter">
          <arg key="predicate" value="qid % 100 = 0"/>
        </operator>
        <operator name="bm" class="bm25TopK">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
          <arg key="qid" value="qid"/><arg key="qtext" value="qtext"/>
          <arg key="k" value="3"/>
        </operator>
        <connect from="docs.outport1" to="qs.inport1"/>
        <connect from="qs.outport1" to="f.inport1"/>
        <connect from="docs.outport1" to="bm.inport1"/>
        <connect from="f.outport1" to="bm.inport2"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val d = Tables.load(spark, sf001, "documents")
    val qs = d.select(col("doc_id").as("qid"), col("text").as("qtext"))
      .filter(col("qid") % 100 === 0)
    val want = graft.api.GraftOps.bm25TopK(d, col("doc_id"), col("text"),
      qs, col("qid"), col("qtext"), 3)
    val got = ports("bm.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML bm25TopK == library bm25TopK")
  }

  test("corrMatrix registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="li" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="lineitem"/>
        </operator>
        <operator name="cm" class="corrMatrix">
          <arg key="group" value="l_returnflag"/>
          <arg key="values"
            value="qty:floor(l_quantity*100); price:floor(l_extendedprice*100)"/>
        </operator>
        <connect from="li.outport1" to="cm.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.corrMatrix(
      Tables.load(spark, sf001, "lineitem"), col("l_returnflag"),
      Seq("qty" -> floor(col("l_quantity") * 100),
        "price" -> floor(col("l_extendedprice") * 100)))
    val got = ports("cm.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML corrMatrix == library corrMatrix")
  }

  test("jaccardJoinPrefix registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="docs" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="jp" class="jaccardJoinPrefix">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
          <arg key="threshold" value="0.5"/>
        </operator>
        <connect from="docs.outport1" to="jp.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.jaccardJoinPrefix(
      Tables.load(spark, sf001, "documents"), col("doc_id"), col("text"),
      3, 0.5)
    val got = ports("jp.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML jaccardJoinPrefix == library jaccardJoinPrefix")
  }

  test("rrfFuse registry op == library form (numeric port order)") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="docs" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="ra" class="select">
          <arg key="exprs"
            value="doc_id % 7 AS query_id; doc_id; doc_id div 7 + 1 AS rank"/>
        </operator>
        <operator name="rb" class="select">
          <arg key="exprs"
            value="doc_id % 7 AS query_id; doc_id; doc_id div 5 + 1 AS rank"/>
        </operator>
        <operator name="fu" class="rrfFuse">
          <arg key="topK" value="4"/>
        </operator>
        <connect from="docs.outport1" to="ra.inport1"/>
        <connect from="docs.outport1" to="rb.inport1"/>
        <connect from="ra.outport1" to="fu.inport1"/>
        <connect from="rb.outport1" to="fu.inport2"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val d = Tables.load(spark, sf001, "documents")
    def rk(div: Int) = d.select((col("doc_id") % 7).as("query_id"),
      col("doc_id"), (expr(s"doc_id div $div") + 1).as("rank"))
    val want = graft.api.GraftOps.rrfFuse(Seq(rk(7), rk(5)), 4)
    val got = ports("fu.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML rrfFuse == library rrfFuse")
  }

  test("sampleBudget registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="docs" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="sb" class="sampleBudget">
          <arg key="strata" value="lang"/><arg key="key" value="doc_id"/>
          <arg key="budget" value="37"/>
        </operator>
        <connect from="docs.outport1" to="sb.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.sampleBudget(
      Tables.load(spark, sf001, "documents"), col("lang"), col("doc_id"), 37L)
    val got = ports("sb.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() == 37, "XML sampleBudget == library sampleBudget")
  }

  test("ewma registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="ev" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="events"/>
        </operator>
        <operator name="sm" class="ewma">
          <arg key="key" value="user_id"/><arg key="ts" value="ts"/>
          <arg key="value" value="value"/><arg key="tiebreak" value="event_id"/>
          <arg key="alphaPpm" value="250000"/>
        </operator>
        <connect from="ev.outport1" to="sm.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.ewma(Tables.load(spark, sf001, "events"),
      col("user_id"), col("ts"), col("value"), col("event_id"), 250000L)
    val got = ports("sm.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML ewma == library ewma")
  }

  test("transitionCounts registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="ev" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="events"/>
        </operator>
        <operator name="tm" class="transitionCounts">
          <arg key="key" value="user_id"/><arg key="ts" value="ts"/>
          <arg key="state" value="event_type"/>
          <arg key="tiebreak" value="event_id"/>
        </operator>
        <connect from="ev.outport1" to="tm.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.transitionCounts(
      Tables.load(spark, sf001, "events"), col("user_id"), col("ts"),
      col("event_type"), col("event_id"))
    val got = ports("tm.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML transitionCounts == library transitionCounts")
  }

  test("rollingDistinct registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="ev" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="events"/>
        </operator>
        <operator name="ra" class="rollingDistinct">
          <arg key="entity" value="user_id"/><arg key="ts" value="ts"/>
          <arg key="windowDays" value="7"/>
        </operator>
        <connect from="ev.outport1" to="ra.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.rollingDistinct(
      Tables.load(spark, sf001, "events"), col("user_id"), col("ts"), 7)
    val got = ports("ra.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML rollingDistinct == library rollingDistinct")
  }

  test("lexiconScore registry op == library form (two inports)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val lexDir = java.nio.file.Files.createTempDirectory("lex").toString
    Seq("slow", "merge", "big").toDF("term")
      .write.mode("overwrite").parquet(s"$lexDir/lex.parquet")
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="d" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="lx" class="parquetInput">
          <arg key="dir" value="$lexDir"/><arg key="table" value="lex"/>
        </operator>
        <operator name="sc" class="lexiconScore">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
          <arg key="term" value="term"/>
        </operator>
        <connect from="d.outport1" to="sc.inport1"/>
        <connect from="lx.outport1" to="sc.inport2"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.lexiconScore(
      Tables.load(spark, sf001, "documents"), col("doc_id"), col("text"),
      Seq("slow", "merge", "big").toDF("term"), col("term"))
    val got = ports("sc.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML lexiconScore == library lexiconScore")
  }

  test("prefixRollup registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="d" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="pr" class="prefixRollup">
          <arg key="path" value="concat(source, '/', lang)"/>
          <arg key="maxDepth" value="2"/>
        </operator>
        <connect from="d.outport1" to="pr.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.prefixRollup(
      Tables.load(spark, sf001, "documents"),
      concat(col("source"), lit("/"), col("lang")), maxDepth = 2)
    val got = ports("pr.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML prefixRollup == library prefixRollup")
  }

  test("topPaths registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="ev" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="events"/>
        </operator>
        <operator name="tp" class="topPaths">
          <arg key="key" value="user_id"/><arg key="ts" value="ts"/>
          <arg key="state" value="event_type"/>
          <arg key="tiebreak" value="event_id"/>
          <arg key="maxSteps" value="2"/><arg key="topK" value="5"/>
        </operator>
        <connect from="ev.outport1" to="tp.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.topPaths(
      Tables.load(spark, sf001, "events"), col("user_id"), col("ts"),
      col("event_type"), col("event_id"), 2, 5)
    val got = ports("tp.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML topPaths == library topPaths")
  }

  test("classKeyTerms registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="d" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="kt" class="classKeyTerms">
          <arg key="class" value="lang"/><arg key="text" value="text"/>
          <arg key="topK" value="3"/>
        </operator>
        <connect from="d.outport1" to="kt.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.classKeyTerms(
      Tables.load(spark, sf001, "documents"), col("lang"), col("text"), 3)
    val got = ports("kt.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML classKeyTerms == library classKeyTerms")
  }

  test("quantileBin registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="o" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="orders"/>
        </operator>
        <operator name="qb" class="quantileBin">
          <arg key="group" value="o_orderpriority"/>
          <arg key="value" value="CAST(floor(o_totalprice * 100) AS BIGINT)"/>
          <arg key="tiebreak" value="o_orderkey"/>
          <arg key="nBins" value="4"/><arg key="out" value="quartile"/>
        </operator>
        <connect from="o.outport1" to="qb.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.quantileBin(
      Tables.load(spark, sf001, "orders"), col("o_orderpriority"),
      floor(col("o_totalprice") * lit(100)).cast("long"),
      col("o_orderkey"), 4, "quartile")
    val got = ports("qb.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML quantileBin == library quantileBin")
  }

  test("proportionLift registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="ev" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="events"/>
        </operator>
        <operator name="pl" class="proportionLift">
          <arg key="variant" value="event_type"/>
          <arg key="success" value="value &gt; 50"/>
          <arg key="baseline" value="view"/>
        </operator>
        <connect from="ev.outport1" to="pl.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.proportionLift(
      Tables.load(spark, sf001, "events"), col("event_type"),
      col("value") > 50, "view")
    val got = ports("pl.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML proportionLift == library proportionLift")
  }

  test("categoricalAssociation registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="d" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="ca" class="categoricalAssociation">
          <arg key="a" value="lang"/><arg key="b" value="source"/>
        </operator>
        <connect from="d.outport1" to="ca.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.categoricalAssociation(
      Tables.load(spark, sf001, "documents"), col("lang"), col("source"))
    val got = ports("ca.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML categoricalAssociation == library form")
  }

  test("weightedQuantiles registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="li" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="lineitem"/>
        </operator>
        <operator name="wq" class="weightedQuantiles">
          <arg key="group" value="l_returnflag"/>
          <arg key="value" value="CAST(floor(l_extendedprice * 100) AS BIGINT)"/>
          <arg key="weight" value="CAST(l_quantity AS BIGINT)"/>
          <arg key="qsPpm" value="500000, 900000"/>
        </operator>
        <connect from="li.outport1" to="wq.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.weightedQuantiles(
      Tables.load(spark, sf001, "lineitem"), col("l_returnflag"),
      floor(col("l_extendedprice") * lit(100)).cast("long"),
      col("l_quantity").cast("long"), Seq(500000L, 900000L))
    val got = ports("wq.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML weightedQuantiles == library weightedQuantiles")
  }

  test("mmrRerank registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="e" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="embeddings"/>
        </operator>
        <operator name="mm" class="mmrRerank">
          <arg key="query" value="vec_id % 5"/><arg key="doc" value="vec_id"/>
          <arg key="score" value="CAST(vec_id % 17 AS DOUBLE) / 17.0"/>
          <arg key="vec" value="embedding"/>
          <arg key="k" value="3"/><arg key="lambdaPpm" value="600000"/>
        </operator>
        <connect from="e.outport1" to="mm.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val emb = Tables.load(spark, sf001, "embeddings")
    val want = graft.api.GraftOps.mmrRerank(emb,
      expr("vec_id % 5"), col("vec_id"),
      expr("CAST(vec_id % 17 AS DOUBLE) / 17.0"), col("embedding"),
      k = 3, lambdaPpm = 600000L)
    val got = ports("mm.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML mmrRerank == library mmrRerank")
  }

  test("noveltyScore registry op == library form (two inports)") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="d" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="r" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="nv" class="noveltyScore">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
          <arg key="refText" value="text"/><arg key="width" value="3"/>
        </operator>
        <connect from="d.outport1" to="nv.inport1"/>
        <connect from="r.outport1" to="nv.inport2"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.noveltyScore(
      Tables.load(spark, sf001, "documents"), col("doc_id"), col("text"),
      Tables.load(spark, sf001, "documents"), col("text"), width = 3)
    val got = ports("nv.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML noveltyScore == library noveltyScore")
  }

  test("timeWeightedAvg registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="ev" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="events"/>
        </operator>
        <operator name="tw" class="timeWeightedAvg">
          <arg key="key" value="user_id"/><arg key="ts" value="ts"/>
          <arg key="value" value="CAST(floor(value * 100) AS BIGINT)"/>
          <arg key="tiebreak" value="event_id"/>
        </operator>
        <connect from="ev.outport1" to="tw.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.timeWeightedAvg(
      Tables.load(spark, sf001, "events"), col("user_id"), col("ts"),
      floor(col("value") * lit(100)).cast("long"), col("event_id"))
    val got = ports("tw.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML timeWeightedAvg == library timeWeightedAvg")
  }

  test("cusum registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="ev" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="events"/>
        </operator>
        <operator name="cu" class="cusum">
          <arg key="key" value="user_id"/><arg key="ts" value="ts"/>
          <arg key="value" value="CAST(floor(value * 100) AS BIGINT)"/>
          <arg key="tiebreak" value="event_id"/>
          <arg key="target" value="5000"/><arg key="slack" value="1000"/>
          <arg key="threshold" value="15000"/>
        </operator>
        <connect from="ev.outport1" to="cu.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.cusum(
      Tables.load(spark, sf001, "events"), col("user_id"), col("ts"),
      floor(col("value") * lit(100)).cast("long"), col("event_id"),
      5000L, 1000L, 15000L)
    val got = ports("cu.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML cusum == library cusum")
  }

  test("groupTrend registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="ev" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="events"/>
        </operator>
        <operator name="tr" class="groupTrend">
          <arg key="key" value="user_id"/>
          <arg key="x" value="unix_micros(ts) div 86400000000"/>
          <arg key="y" value="floor(value * 100)"/>
        </operator>
        <connect from="ev.outport1" to="tr.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.groupTrend(
      Tables.load(spark, sf001, "events"), col("user_id"),
      expr("unix_micros(ts) div 86400000000"), floor(col("value") * 100))
    val got = ports("tr.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML groupTrend == library groupTrend")
  }

  test("paretoFrontier registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="o" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="orders"/>
        </operator>
        <operator name="pf" class="paretoFrontier">
          <arg key="group" value="o_orderpriority"/>
          <arg key="x" value="o_orderdate"/><arg key="y" value="o_totalprice"/>
          <arg key="minimizeX" value="false"/>
        </operator>
        <connect from="o.outport1" to="pf.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val want = graft.api.GraftOps.paretoFrontier(
      Tables.load(spark, sf001, "orders"), col("o_orderpriority"),
      col("o_orderdate"), col("o_totalprice"), minimizeX = false)
    val got = ports("pf.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML paretoFrontier == library paretoFrontier")
  }

  test("buildVocab/encodeTokens registry ops == library forms") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="docs" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="tok" class="select">
          <arg key="exprs" value="doc_id; split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ') AS toks"/>
        </operator>
        <operator name="vocab" class="buildVocab">
          <arg key="toks" value="toks"/><arg key="topK" value="64"/>
        </operator>
        <operator name="enc" class="encodeTokens">
          <arg key="toks" value="toks"/><arg key="oovId" value="-7"/>
        </operator>
        <connect from="docs.outport1" to="tok.inport1"/>
        <connect from="tok.outport1" to="vocab.inport1"/>
        <connect from="tok.outport1" to="enc.inport1"/>
        <connect from="vocab.outport1" to="enc.inport2"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val t = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), graft.functions.Text.tokens(col("text")).as("toks"))
    val vWant = graft.api.GraftOps.buildVocab(t, col("toks"), 64)
    val vGot = ports("vocab.outport1")
    assert(vGot.exceptAll(vWant).isEmpty && vWant.exceptAll(vGot).isEmpty &&
      vGot.count() > 0, "XML buildVocab == library buildVocab")
    val eWant = graft.api.GraftOps.encodeTokens(t, col("toks"), vWant, -7)
      .select(col("doc_id"), col("token_ids"))
    val eGot = ports("enc.outport1").select(col("doc_id"), col("token_ids"))
    assert(eGot.exceptAll(eWant).isEmpty && eWant.exceptAll(eGot).isEmpty &&
      eGot.count() > 0, "XML encodeTokens == library encodeTokens")
  }

  test("bpeFit/bpeEncode registry ops == library forms") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="docs" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="tok" class="select">
          <arg key="exprs" value="doc_id; split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ') AS toks"/>
        </operator>
        <operator name="fit" class="bpeFit">
          <arg key="toks" value="toks"/><arg key="nMerges" value="4"/>
        </operator>
        <operator name="enc" class="bpeEncode">
          <arg key="toks" value="toks"/>
        </operator>
        <connect from="docs.outport1" to="tok.inport1"/>
        <connect from="tok.outport1" to="fit.inport1"/>
        <connect from="tok.outport1" to="enc.inport1"/>
        <connect from="fit.outport1" to="enc.inport2"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val t = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), graft.functions.Text.tokens(col("text")).as("toks"))
    val fWant = graft.api.GraftOps.bpeFit(t, col("toks"), 4)
    val fGot = ports("fit.outport1")
    assert(fGot.exceptAll(fWant).isEmpty && fWant.exceptAll(fGot).isEmpty &&
      fGot.count() == 4, "XML bpeFit == library bpeFit")
    // pieces flatten to a string so exceptAll compares scalars
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        array_join(flatten(col("pieces")), ",").as("p"))
    val eWant = flat(graft.api.GraftOps.bpeEncode(t, col("toks"), fWant))
    val eGot = flat(ports("enc.outport1"))
    assert(eGot.exceptAll(eWant).isEmpty && eWant.exceptAll(eGot).isEmpty &&
      eGot.count() > 0, "XML bpeEncode == library bpeEncode")
  }

  test("qualityRules / kCore registry ops == library forms") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="docs" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="qr" class="qualityRules">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
          <arg key="minWords" value="40"/><arg key="maxTopTokPpm" value="120000"/>
        </operator>
        <operator name="edges" class="select">
          <arg key="exprs" value="doc_id AS src; (doc_id + 1) % 300 AS dst"/>
        </operator>
        <operator name="core" class="kCore">
          <arg key="src" value="src"/><arg key="dst" value="dst"/>
          <arg key="k" value="2"/><arg key="maxRounds" value="4"/>
        </operator>
        <connect from="docs.outport1" to="qr.inport1"/>
        <connect from="docs.outport1" to="edges.inport1"/>
        <connect from="edges.outport1" to="core.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val d = Tables.load(spark, sf001, "documents")
    val qrWant = graft.api.GraftOps.qualityRules(d, col("doc_id"),
      col("text"), minWords = 40, maxTopTokPpm = 120000L)
    val qrGot = ports("qr.outport1")
    assert(qrGot.exceptAll(qrWant).isEmpty && qrWant.exceptAll(qrGot).isEmpty &&
      qrGot.count() === d.count(), "XML qualityRules == library form")
    val e = d.select(col("doc_id").as("src"),
      ((col("doc_id") + 1) % 300).as("dst"))
    val cWant = graft.api.GraftOps.kCore(e, col("src"), col("dst"),
      k = 2, maxRounds = 4)
    val cGot = ports("core.outport1")
    assert(cGot.exceptAll(cWant).isEmpty && cWant.exceptAll(cGot).isEmpty,
      "XML kCore == library form")
  }

  test("semanticDupIndex/semanticDupFlag registry ops == library forms") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="emb" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="embeddings"/>
        </operator>
        <operator name="model" class="kmeansFit">
          <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
          <arg key="k" value="4"/><arg key="iters" value="2"/>
        </operator>
        <operator name="idx" class="semanticDupIndex">
          <arg key="id" value="vec_id"/><arg key="vec" value="embedding"/>
        </operator>
        <operator name="arrivals" class="select">
          <arg key="exprs" value="vec_id + 100000 AS id; embedding"/>
        </operator>
        <operator name="flags" class="semanticDupFlag">
          <arg key="id" value="id"/><arg key="vec" value="embedding"/>
          <arg key="threshold" value="0.99"/><arg key="nprobe" value="2"/>
        </operator>
        <connect from="emb.outport1" to="model.inport1"/>
        <connect from="emb.outport1" to="idx.inport1"/>
        <connect from="model.outport1" to="idx.inport2"/>
        <connect from="emb.outport1" to="arrivals.inport1"/>
        <connect from="arrivals.outport1" to="flags.inport1"/>
        <connect from="model.outport1" to="flags.inport2"/>
        <connect from="idx.outport1" to="flags.inport3"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val e = Tables.load(spark, sf001, "embeddings")
    val model = graft.api.GraftOps.kmeansFit(e, col("vec_id"),
      col("embedding"), k = 4, iters = 2)
    val idxWant = graft.streaming.StreamingOps.semanticDupIndex(e,
      col("vec_id"), col("embedding"), model)
    val idxGot = ports("idx.outport1")
    def flatIdx(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cluster"), col("dup_of"))
    assert(flatIdx(idxGot).exceptAll(flatIdx(idxWant)).isEmpty &&
      flatIdx(idxWant).exceptAll(flatIdx(idxGot)).isEmpty &&
      idxGot.count() === e.count(), "XML semanticDupIndex == library form")
    val arr = e.select((col("vec_id") + 100000).as("id"), col("embedding"))
    val fWant = graft.streaming.StreamingOps.semanticDupAgainst(arr,
      col("id"), col("embedding"), model, idxWant, threshold = 0.99,
      nprobe = 2)
    val fGot = ports("flags.outport1")
    assert(fGot.exceptAll(fWant).isEmpty && fWant.exceptAll(fGot).isEmpty,
      "XML semanticDupFlag == library form")
    // every row re-ingested under a shifted id self-flags at sim ~1 (its
    // own original shares its cell at cosine 1.0 >= 0.99)
    assert(fGot.filter(col("id") - lit(100000) === col("dup_of"))
      .count() === e.count(),
      "each re-ingested embedding flags its own original")
  }

  test("lmScore registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="docs" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="tok" class="select">
          <arg key="exprs" value="doc_id; split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ') AS toks"/>
        </operator>
        <operator name="lm" class="lmScore">
          <arg key="id" value="doc_id"/><arg key="toks" value="toks"/>
        </operator>
        <connect from="docs.outport1" to="tok.inport1"/>
        <connect from="tok.outport1" to="lm.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val t = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), graft.functions.Text.tokens(col("text")).as("toks"))
    val want = graft.api.GraftOps.lmScore(t, col("doc_id"), col("toks"))
    val got = ports("lm.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML lmScore == library lmScore")
  }

  test("extractText registry op == library form") {
    import org.apache.spark.sql.functions._
    val spec = PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="docs" class="parquetInput">
          <arg key="dir" value="$sf001"/><arg key="table" value="documents"/>
        </operator>
        <operator name="wrap" class="select">
          <arg key="exprs" value="doc_id; concat('&lt;p&gt;', text, '&lt;/p&gt;') AS m"/>
        </operator>
        <operator name="ex" class="extractText">
          <arg key="markup" value="m"/><arg key="out" value="clean"/>
        </operator>
        <connect from="docs.outport1" to="wrap.inport1"/>
        <connect from="wrap.outport1" to="ex.inport1"/>
      </pipeline>""")
    val ports = PipelineCompiler.compile(spec, spark)
    val w = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), concat(lit("<p>"), col("text"), lit("</p>")).as("m"))
    val want = graft.api.GraftOps.extractText(w, col("m"), "clean")
    val got = ports("ex.outport1")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() > 0, "XML extractText == library extractText")
  }

  test("intervalJoin registry op == library form (keyed, prefixed)") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sf001, "events")
    ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts").as("vs"),
        timestamp_micros(unix_micros(col("ts")) + 600000000L).as("ve"))
      .createOrReplaceTempView("iv_left_v")
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id"),
        timestamp_micros(unix_micros(col("ts")) - 300000000L).as("cs"),
        timestamp_micros(unix_micros(col("ts")) + 300000000L).as("ce"))
      .createOrReplaceTempView("iv_right_v")
    val spec = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="l" class="viewInput"><arg key="table" value="iv_left_v"/></operator>
        <operator name="r" class="viewInput"><arg key="table" value="iv_right_v"/></operator>
        <operator name="ij" class="intervalJoin">
          <arg key="lStart" value="vs"/><arg key="lEnd" value="ve"/>
          <arg key="rStart" value="cs"/><arg key="rEnd" value="ce"/>
          <arg key="spanUs" value="600000000"/>
          <arg key="key" value="user_id=user_id"/>
        </operator>
        <connect from="l.outport1" to="ij.inport1"/>
        <connect from="r.outport1" to="ij.inport2"/>
      </pipeline>""")
    val got = graft.plans.PipelineCompiler.compile(spec, spark)("ij.outport1")
      .select(col("event_id"), col("r_cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.api.GraftOps.intervalJoin(
        spark.table("iv_left_v"), spark.table("iv_right_v"),
        col("vs"), col("ve"), col("cs"), col("ce"),
        spanUs = 600000000L, key = Some(("user_id", "user_id")))
      .select(col("event_id"), col("r_cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty, "XML intervalJoin == library form")
  }

  test("upsert log ops compose in XML: upsertState + compactUpsertLogSink") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-upsx").toString
    val cdir = java.nio.file.Files.createTempDirectory("graft-upsx-c").toString
    try {
      Seq((1L, 1L, 10L, "u", "a1"), (1L, 3L, 11L, "u", "a2"),
          (2L, 2L, 12L, "d", ""), (3L, 1L, 13L, "u", "c1"))
        .toDF("k", "v", "seq", "op", "payload")
        .write.mode("append").parquet(dir)
      // two pipelines: the compaction SINK must complete before the
      // state pipeline reads its output (disconnected nodes carry no
      // ordering guarantee inside one spec)
      graft.plans.PipelineCompiler.compile(graft.plans.PipelineSpec.parseXml(s"""
        <pipeline>
          <operator name="compact" class="compactUpsertLogSink">
            <arg key="in" value="$dir"/><arg key="out" value="$cdir"/>
            <arg key="key" value="k"/><arg key="version" value="v"/>
            <arg key="tiebreak" value="seq"/>
          </operator>
        </pipeline>"""), spark)
      val spec = graft.plans.PipelineSpec.parseXml(s"""
        <pipeline>
          <operator name="st" class="upsertState">
            <arg key="path" value="$cdir"/>
            <arg key="key" value="k"/><arg key="version" value="v"/>
            <arg key="tiebreak" value="seq"/>
            <arg key="isDelete" value="op = 'd'"/>
          </operator>
        </pipeline>""")
      val got = graft.plans.PipelineCompiler.compile(spec, spark)("st.outport1")
        .collect().map(r => (r.getLong(0), r.getString(4))).toSet
      assert(got == Set((1L, "a2"), (3L, "c1")),
        s"XML compact+state == expected table: $got")
      // compacted log kept the tombstone row for key 2
      assert(spark.read.parquet(cdir).filter(col("op") === "d").count() == 1)
    } finally {
      import scala.reflect.io.Directory
      Seq(dir, cdir).foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
  }

  test("goldenRecordState XML == API read of a delta log; contaminationReport XML == API") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-grx").toString
    try {
      val changes: Seq[(Long, Long, Long, Option[String], Option[String])] =
        Seq((1L, 5L, 10L, Some("e5"), None),
          (1L, 3L, 11L, Some("eOLD"), Some("p3")),
          (2L, 1L, 12L, Some("x1"), Some("y1")))
      graft.api.GraftOps.goldenRecordDelta(
          changes.toDF("k", "v", "seq", "email", "phone"),
          Seq("k"), "v", "seq", Seq("email", "phone"))
        .write.mode("append").parquet(dir)
      val spec = graft.plans.PipelineSpec.parseXml(s"""
        <pipeline>
          <operator name="st" class="goldenRecordState">
            <arg key="path" value="$dir"/>
            <arg key="key" value="k"/><arg key="version" value="v"/>
            <arg key="fields" value="email,phone"/>
          </operator>
        </pipeline>""")
      val got = graft.plans.PipelineCompiler.compile(spec, spark)("st.outport1")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSet
      val api = graft.streaming.StreamingOps.goldenRecordState(spark, dir,
          Seq("k"), "v", Seq("email", "phone"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSet
      assert(got == api && got == Set((1L, "e5", "p3", 5L),
        (2L, "x1", "y1", 1L)), s"XML state == API state: $got")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
    // contaminationReport: XML binding row-equal to the API call
    val corpus = Seq((1L, "xx alpha beta gamma zz"), (2L, "clean text here"))
      .toDF("doc_id", "text").createOrReplaceTempView("cr_corpus")
    val evalSet = Seq((9L, "alpha beta gamma")).toDF("bid", "text")
      .createOrReplaceTempView("cr_eval")
    val spec2 = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="c" class="viewInput"><arg key="table" value="cr_corpus"/></operator>
        <operator name="e" class="viewInput"><arg key="table" value="cr_eval"/></operator>
        <operator name="r" class="contaminationReport">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
          <arg key="evalId" value="bid"/><arg key="evalText" value="text"/>
          <arg key="width" value="2"/>
        </operator>
        <connect from="c.outport1" to="r.inport1"/>
        <connect from="e.outport1" to="r.inport2"/>
      </pipeline>""")
    val gotR = graft.plans.PipelineCompiler.compile(spec2, spark)("r.outport1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getInt(7)))
      .toSet
    val apiR = graft.api.GraftOps.contaminationReport(
        spark.table("cr_corpus"), col("doc_id"), col("text"),
        spark.table("cr_eval"), col("bid"), col("text"), width = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getInt(7)))
      .toSet
    assert(gotR == apiR && gotR == Set((1L, 9L, 2L, 2L, 2L, 1000000L, 3L, 1)),
      s"XML contamination report == API: $gotR")
  }

  test("rboCompare registry op: XML (two ranking inports) == API") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Seq((1L, "a", 1L), (1L, "b", 2L)).toDF("q", "d", "r")
      .createOrReplaceTempView("rbo_a")
    Seq((1L, "b", 1L), (1L, "a", 2L)).toDF("q", "d", "r")
      .createOrReplaceTempView("rbo_b")
    val spec = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="a" class="viewInput"><arg key="table" value="rbo_a"/></operator>
        <operator name="b" class="viewInput"><arg key="table" value="rbo_b"/></operator>
        <operator name="rb" class="rboCompare">
          <arg key="qid" value="q"/><arg key="doc" value="d"/>
          <arg key="rank" value="r"/><arg key="pPpm" value="500000"/>
          <arg key="depth" value="2"/>
        </operator>
        <connect from="a.outport1" to="rb.inport1"/>
        <connect from="b.outport1" to="rb.inport2"/>
      </pipeline>""")
    val got = graft.plans.PipelineCompiler.compile(spec, spark)("rb.outport1")
      .collect().map(_.toSeq).toSeq
    val api = graft.api.GraftOps.rboCompare(spark.table("rbo_a"),
        spark.table("rbo_b"), col("q"), col("d"), col("r"), 500000L, 2)
      .collect().map(_.toSeq).toSeq
    assert(got == api && got.length == 1, s"XML rbo == API: $got")
  }

  test("profileDrift registry op: XML (base inport1, cur inport2) == API") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Seq((Option(1L), Option("a")), (Option.empty[Long], Option("b")))
      .toDF("k", "v").createOrReplaceTempView("pd_base")
    spark.table("pd_base").filter(col("k").isNotNull).drop("v")
      .withColumn("w", lit(2)).createOrReplaceTempView("pd_cur")
    val spec = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="b" class="viewInput"><arg key="table" value="pd_base"/></operator>
        <operator name="c" class="viewInput"><arg key="table" value="pd_cur"/></operator>
        <operator name="d" class="profileDrift"/>
        <connect from="b.outport1" to="d.inport1"/>
        <connect from="c.outport1" to="d.inport2"/>
      </pipeline>""")
    val got = graft.plans.PipelineCompiler.compile(spec, spark)("d.outport1")
      .collect().map(_.toSeq).toSeq
    val api = graft.api.GraftOps.profileDrift(spark.table("pd_base"),
      spark.table("pd_cur")).collect().map(_.toSeq).toSeq
    assert(got == api && got.length == 3, s"XML drift == API: $got")
  }

  test("cmsState / kmvState XML == API read of sketch logs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = Seq(("g1", "a"), ("g1", "b"), ("g2", "a")).toDF("g", "v")
    val cdir = java.nio.file.Files.createTempDirectory("graft-cmsx").toString
    graft.api.GraftOps.cmsSketch(rows, col("v"), 3, 8)
      .withColumn("batch_id", lit(0L)).write.mode("append").parquet(cdir)
    val kdir = java.nio.file.Files.createTempDirectory("graft-kmvx").toString
    graft.api.GraftOps.kmvSketch(rows, col("g"), col("v"), 4)
      .write.mode("append").parquet(kdir)
    val spec = graft.plans.PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="cs" class="cmsState"><arg key="path" value="$cdir"/></operator>
        <operator name="ks" class="kmvState">
          <arg key="path" value="$kdir"/><arg key="k" value="4"/>
        </operator>
      </pipeline>""")
    val outs = graft.plans.PipelineCompiler.compile(spec, spark)
    assert(outs("cs.outport1").collect().map(_.toSeq).toSet ==
      graft.streaming.StreamingOps.cmsState(spark, cdir)
        .collect().map(_.toSeq).toSet, "XML cms state == API")
    assert(outs("ks.outport1").collect().map(_.toSeq).toSet ==
      graft.streaming.StreamingOps.kmvState(spark, kdir, 4)
        .collect().map(_.toSeq).toSet, "XML kmv state == API")
  }

  test("gramSummaryRows / gramState / pcaFitFromSummary XML == API (S31 faces)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val data = Seq((1L, Seq(1.0f, 2.0f, 3.0f)), (2L, Seq(0.5f, -1.0f, 0.25f)),
      (3L, Seq(-0.1f, 0.4f, 2.0f)))
    data.toDF("id", "vec").createOrReplaceTempView("gs_rows")
    // a two-batch gram log, written the way gramAppendSink writes it
    val gdir = java.nio.file.Files.createTempDirectory("graft-gramx").toString
    graft.api.GraftOps.gramSummaryRows(data.take(2).toDF("id", "vec"),
        col("vec"), 3)
      .withColumn("batch_id", lit(0L)).write.mode("append").parquet(gdir)
    graft.api.GraftOps.gramSummaryRows(data.drop(2).toDF("id", "vec"),
        col("vec"), 3)
      .withColumn("batch_id", lit(1L)).write.mode("append").parquet(gdir)
    val spec = graft.plans.PipelineSpec.parseXml(s"""
      <pipeline>
        <operator name="sr" class="gramSummaryRows">
          <arg key="vec" value="vec"/><arg key="dim" value="3"/>
        </operator>
        <operator name="v" class="viewInput"><arg key="table" value="gs_rows"/></operator>
        <operator name="st" class="gramState"><arg key="path" value="$gdir"/></operator>
        <operator name="fit" class="pcaFitFromSummary">
          <arg key="dim" value="3"/><arg key="k" value="2"/>
        </operator>
        <connect from="v.outport1" to="sr.inport1"/>
        <connect from="st.outport1" to="fit.inport1"/>
      </pipeline>""")
    val outs = graft.plans.PipelineCompiler.compile(spec, spark)
    assert(outs("sr.outport1").collect().map(_.toSeq).toSet ==
      graft.api.GraftOps.gramSummaryRows(spark.table("gs_rows"),
        col("vec"), 3).collect().map(_.toSeq).toSet,
      "XML gram summary == API")
    assert(outs("st.outport1").collect().map(_.toSeq).toSet ==
      graft.streaming.StreamingOps.gramState(spark, gdir)
        .collect().map(_.toSeq).toSet, "XML gram state == API")
    // the model flows from the log state: XML fit == API fit over the
    // same summary == pcaFit over the raw rows (the S31 law by port)
    assert(outs("fit.outport1").collect().map(_.toSeq).toSeq ==
      graft.api.GraftOps.pcaFit(spark.table("gs_rows"), col("vec"), 3, 2)
        .collect().map(_.toSeq).toSeq, "XML model-from-log == batch pcaFit")
  }

  test("gramAppendSink composes in a STREAMING XML pipeline; gramState over its log == batch summary") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("gram-stream-in")
    java.nio.file.Files.writeString(in.resolve("a.json"),
      """{"id": 1, "vec": [1.0, 2.0, 3.0]}
        |{"id": 2, "vec": [-0.5, 0.25, 1.5]}
        |{"id": 3, "vec": [0.1, -0.2, 0.3]}
        |""".stripMargin)
    val log = java.nio.file.Files.createTempDirectory("gram-stream-log")
    val ck = java.nio.file.Files.createTempDirectory("gram-stream-ck")
    val xml = s"""
      <pipeline>
        <operator name="src" class="fileStreamInput">
          <arg key="schema" value="id LONG, vec ARRAY&lt;FLOAT&gt;"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${in.toUri}"/>
        </operator>
        <operator name="g" class="gramAppendSink">
          <arg key="vec" value="vec"/><arg key="dim" value="3"/>
          <arg key="path" value="$log"/>
          <arg key="checkpoint" value="$ck"/>
          <arg key="name" value="gram_stream_sink"/>
          <arg key="triggerMs" value="0"/>
        </operator>
        <connect from="src.outport1" to="g.inport1"/>
      </pipeline>"""
    graft.plans.PipelineCompiler.compile(
      graft.plans.PipelineSpec.parseXml(xml), spark)
    val q = spark.streams.active.find(_.name == "gram_stream_sink")
      .getOrElse(fail("compiled gramAppendSink pipeline did not start"))
    try q.processAllAvailable() finally q.stop()
    val got = graft.streaming.StreamingOps.gramState(spark, log.toString)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val want = graft.api.GraftOps.gramSummaryRows(
        Seq(Seq(1.0f, 2.0f, 3.0f), Seq(-0.5f, 0.25f, 1.5f),
          Seq(0.1f, -0.2f, 0.3f)).toDF("vec"), col("vec"), 3)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(got == want, s"XML-streamed gram log == batch summary: $got")
  }

  test("scoreStreamSink / ridgeScoreStreamSink compose in STREAMING XML pipelines; scores == batch apply (S32 faces)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p)
    // a ridge model table + the same model as an S31-layout gram log
    val train = Seq((Seq(1.0f, 0.0f), 2.25), (Seq(0.0f, 1.0f), -0.75),
      (Seq(1.0f, 1.0f), 1.25), (Seq(-1.0f, 0.5f), -2.25),
      (Seq(0.5f, -0.5f), 1.75)).toDF("vec", "y")
    val model = graft.api.GraftOps.ridgeFit(train, col("vec"), col("y"),
      2, 0L)
    val mdir = tmp("s32x-model"); model.write.mode("overwrite")
      .parquet(mdir.toString)
    val glog = tmp("s32x-glog")
    graft.api.GraftOps.gramSummaryRows(train,
        concat(col("vec"), array(col("y").cast("float"))), 3)
      .withColumn("batch_id", lit(0L))
      .withColumn("sink_query_id", lit("s32x"))
      .withColumn("sink_dim", lit(3))
      .write.mode("append").parquet(glog.toString)
    val in = tmp("s32x-in")
    java.nio.file.Files.writeString(in.resolve("a.json"),
      """{"id": 1, "vec": [0.5, -0.25]}
        |{"id": 2, "vec": [-1.0, 1.0]}
        |{"id": 3, "vec": [0.25, 0.75]}
        |""".stripMargin)
    val outA = tmp("s32x-outA"); val outB = tmp("s32x-outB")
    val xml = s"""
      <pipeline>
        <operator name="src" class="fileStreamInput">
          <arg key="schema" value="id LONG, vec ARRAY&lt;FLOAT&gt;"/>
          <arg key="format" value="json"/>
          <arg key="path" value="${in.toUri}"/>
        </operator>
        <operator name="sc" class="scoreStreamSink">
          <arg key="vec" value="vec"/><arg key="dim" value="2"/>
          <arg key="model" value="$mdir"/><arg key="kind" value="logistic"/>
          <arg key="path" value="$outA"/>
          <arg key="checkpoint" value="${tmp("s32x-ckA")}"/>
          <arg key="name" value="s32_xml_score"/>
          <arg key="triggerMs" value="0"/>
        </operator>
        <operator name="rs" class="ridgeScoreStreamSink">
          <arg key="vec" value="vec"/><arg key="dim" value="2"/>
          <arg key="gramLog" value="$glog"/><arg key="lambdaPpm" value="0"/>
          <arg key="path" value="$outB"/>
          <arg key="checkpoint" value="${tmp("s32x-ckB")}"/>
          <arg key="name" value="s32_xml_ridge"/>
          <arg key="triggerMs" value="0"/>
        </operator>
        <connect from="src.outport1" to="sc.inport1"/>
        <connect from="src.outport1" to="rs.inport1"/>
      </pipeline>"""
    graft.plans.PipelineCompiler.compile(
      graft.plans.PipelineSpec.parseXml(xml), spark)
    for (n <- Seq("s32_xml_score", "s32_xml_ridge")) {
      val q = spark.streams.active.find(_.name == n)
        .getOrElse(fail(s"compiled $n did not start"))
      try q.processAllAvailable() finally q.stop()
    }
    val rows = Seq((1L, Seq(0.5f, -0.25f)), (2L, Seq(-1.0f, 1.0f)),
      (3L, Seq(0.25f, 0.75f))).toDF("id", "vec")
    val wantA = graft.api.GraftOps.logisticApply(rows, col("vec"), model, 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val gotA = spark.read.parquet(outA.toString)
      .select("id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotA == wantA, s"XML scoreStreamSink == batch logisticApply: $gotA")
    val wantB = graft.api.GraftOps.ridgeApply(rows, col("vec"), model, 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val gotB = spark.read.parquet(outB.toString)
      .select("id", "score", "model_n").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(gotB.view.mapValues(_._1).toMap == wantB &&
      gotB.values.forall(_._2 == 5L),
      s"XML ridgeScoreStreamSink == batch ridgeApply, model_n = 5: $gotB")
  }

  test("calibrationReport registry op: XML == API") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Seq((0.1, true), (0.2, false), (0.85, true))
      .toDF("s", "l").createOrReplaceTempView("cal_rows")
    val spec = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="d" class="viewInput"><arg key="table" value="cal_rows"/></operator>
        <operator name="c" class="calibrationReport">
          <arg key="score" value="s"/><arg key="label" value="l"/>
          <arg key="buckets" value="4"/>
        </operator>
        <connect from="d.outport1" to="c.inport1"/>
      </pipeline>""")
    val got = graft.plans.PipelineCompiler.compile(spec, spark)("c.outport1")
      .collect().map(_.toSeq).toSeq
    val api = graft.api.GraftOps.calibrationReport(spark.table("cal_rows"),
      col("s"), col("l"), 4).collect().map(_.toSeq).toSeq
    assert(got == api && got.length == 2, s"XML calibration == API: $got")
  }

  test("aucReport registry op: XML == API") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Seq((0.1, false), (0.4, true), (0.4, false), (0.9, true))
      .toDF("s", "l").createOrReplaceTempView("auc_rows")
    val spec = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="d" class="viewInput"><arg key="table" value="auc_rows"/></operator>
        <operator name="a" class="aucReport">
          <arg key="score" value="s"/><arg key="label" value="l"/>
        </operator>
        <connect from="d.outport1" to="a.inport1"/>
      </pipeline>""")
    val got = graft.plans.PipelineCompiler.compile(spec, spark)("a.outport1")
      .collect().map(_.toSeq).toSeq
    val api = graft.api.GraftOps.aucReport(spark.table("auc_rows"),
      col("s"), col("l")).collect().map(_.toSeq).toSeq
    assert(got == api && got.length == 1, s"XML auc == API: $got")
  }

  test("aucReportMicros / aucReportBy / calibrationReportBy / prCurveReport registry ops: XML == API") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Seq(("a", 0.1, false), ("a", 0.4, true), ("b", 0.4, false),
      ("b", 0.9, true), ("a", 0.7, false), ("b", 0.2, false))
      .toDF("g", "s", "l").createOrReplaceTempView("eval_rows")
    val spec = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="d" class="viewInput"><arg key="table" value="eval_rows"/></operator>
        <operator name="m" class="aucReportMicros">
          <arg key="score" value="s"/><arg key="label" value="l"/>
        </operator>
        <operator name="ab" class="aucReportBy">
          <arg key="group" value="g"/>
          <arg key="score" value="s"/><arg key="label" value="l"/>
          <arg key="scoreMicros" value="true"/>
        </operator>
        <operator name="cb" class="calibrationReportBy">
          <arg key="group" value="g"/>
          <arg key="score" value="s"/><arg key="label" value="l"/>
          <arg key="buckets" value="4"/>
        </operator>
        <operator name="pr" class="prCurveReport">
          <arg key="score" value="s"/><arg key="label" value="l"/>
        </operator>
        <operator name="pm" class="prCurveReportMicros">
          <arg key="score" value="s"/><arg key="label" value="l"/>
        </operator>
        <operator name="pb" class="prCurveReportBy">
          <arg key="group" value="g"/>
          <arg key="score" value="s"/><arg key="label" value="l"/>
          <arg key="scoreMicros" value="true"/>
        </operator>
        <connect from="d.outport1" to="m.inport1"/>
        <connect from="d.outport1" to="ab.inport1"/>
        <connect from="d.outport1" to="cb.inport1"/>
        <connect from="d.outport1" to="pr.inport1"/>
        <connect from="d.outport1" to="pm.inport1"/>
        <connect from="d.outport1" to="pb.inport1"/>
      </pipeline>""")
    val out = graft.plans.PipelineCompiler.compile(spec, spark)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(out("m.outport1")) == rows(graft.api.GraftOps.aucReportMicros(
      spark.table("eval_rows"), col("s"), col("l"))), "micros XML == API")
    assert(rows(out("ab.outport1")) == rows(graft.api.GraftOps.aucReportBy(
      spark.table("eval_rows"), col("g"), col("s"), col("l"),
      quantizeMicros = true)), "by-group XML == API (micros arg through)")
    assert(rows(out("cb.outport1")) == rows(
      graft.api.GraftOps.calibrationReportBy(spark.table("eval_rows"),
        col("g"), col("s"), col("l"), 4)), "sliced calibration XML == API")
    assert(rows(out("pr.outport1")) == rows(graft.api.GraftOps.prCurveReport(
      spark.table("eval_rows"), col("s"), col("l"))), "pr curve XML == API")
    assert(rows(out("pm.outport1")) == rows(
      graft.api.GraftOps.prCurveReportMicros(spark.table("eval_rows"),
        col("s"), col("l"))), "pr micros XML == API")
    assert(rows(out("pb.outport1")) == rows(
      graft.api.GraftOps.prCurveReportBy(spark.table("eval_rows"),
        col("g"), col("s"), col("l"), quantizeMicros = true)),
      "sliced pr XML == API (micros arg through)")
  }

  test("logisticFit / logisticApply XML == API (model flows by port)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val data = Seq.tabulate(80) { i =>
      val x0 = (i % 7 - 3) / 3.0; val x1 = (i % 11 - 5) / 5.0
      (Seq(x0.toFloat, x1.toFloat), x0 - 2.0 * x1 + 0.25 > 0.0)
    }
    data.toDF("v", "y").createOrReplaceTempView("logit_rows")
    val spec = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="d" class="viewInput"><arg key="table" value="logit_rows"/></operator>
        <operator name="fit" class="logisticFit">
          <arg key="vec" value="v"/><arg key="target" value="y"/>
          <arg key="dim" value="2"/><arg key="iters" value="3"/>
          <arg key="lambdaPpm" value="200000"/>
        </operator>
        <operator name="ap" class="logisticApply">
          <arg key="vec" value="v"/><arg key="dim" value="2"/>
        </operator>
        <connect from="d.outport1" to="fit.inport1"/>
        <connect from="d.outport1" to="ap.inport1"/>
        <connect from="fit.outport1" to="ap.inport2"/>
      </pipeline>""")
    val out = graft.plans.PipelineCompiler.compile(spec, spark)
    val apiModel = graft.api.GraftOps.logisticFit(spark.table("logit_rows"),
      col("v"), col("y"), 2, 3, 200000L)
    assert(out("fit.outport1").collect().map(_.toSeq).toSeq ==
      apiModel.collect().map(_.toSeq).toSeq, "XML fit == API fit")
    assert(out("ap.outport1").collect().map(_.toSeq).toSeq ==
      graft.api.GraftOps.logisticApply(spark.table("logit_rows"), col("v"),
        apiModel, 2).collect().map(_.toSeq).toSeq, "XML apply == API apply")
  }

  test("ridgeFit / ridgeFitFromSummary / ridgeApply XML == API (model flows by port)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val data = Seq.tabulate(50) { i =>
      val x0 = (i % 7 - 3) / 3.0; val x1 = (i % 11 - 5) / 5.0
      (Seq(x0.toFloat, x1.toFloat), x0 - 2.0 * x1 + 1.0)
    }
    data.toDF("v", "y").createOrReplaceTempView("ridge_rows")
    val spec = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="d" class="viewInput"><arg key="table" value="ridge_rows"/></operator>
        <operator name="fit" class="ridgeFit">
          <arg key="vec" value="v"/><arg key="target" value="y"/>
          <arg key="dim" value="2"/><arg key="lambdaPpm" value="100000"/>
        </operator>
        <operator name="sr" class="gramSummaryRows">
          <arg key="vec" value="concat(v, array(cast(y as float)))"/>
          <arg key="dim" value="3"/>
        </operator>
        <operator name="fit2" class="ridgeFitFromSummary">
          <arg key="dim" value="2"/><arg key="lambdaPpm" value="100000"/>
        </operator>
        <operator name="ap" class="ridgeApply">
          <arg key="vec" value="v"/><arg key="dim" value="2"/>
        </operator>
        <connect from="d.outport1" to="fit.inport1"/>
        <connect from="d.outport1" to="sr.inport1"/>
        <connect from="sr.outport1" to="fit2.inport1"/>
        <connect from="d.outport1" to="ap.inport1"/>
        <connect from="fit.outport1" to="ap.inport2"/>
      </pipeline>""")
    val outs = graft.plans.PipelineCompiler.compile(spec, spark)
    val apiModel = graft.api.GraftOps.ridgeFit(spark.table("ridge_rows"),
      col("v"), col("y"), 2, 100000L)
    assert(outs("fit.outport1").collect().map(_.toSeq).toSeq ==
      apiModel.collect().map(_.toSeq).toSeq, "XML fit == API")
    assert(outs("fit2.outport1").collect().map(_.toSeq).toSeq ==
      apiModel.collect().map(_.toSeq).toSeq,
      "XML summary-fed fit == direct fit")
    assert(outs("ap.outport1").collect().map(_.toSeq).toSeq ==
      graft.api.GraftOps.ridgeApply(spark.table("ridge_rows"), col("v"),
        apiModel, 2).collect().map(_.toSeq).toSeq, "XML apply == API")
  }

  test("proximityTopK registry op: XML (docs inport1, queries inport2) == API") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Seq((1L, "alpha beta x"), (2L, "alpha y beta"))
      .toDF("doc_id", "text").createOrReplaceTempView("px_docs")
    Seq((10L, "alpha beta")).toDF("qid", "qtext")
      .createOrReplaceTempView("px_qs")
    val spec = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="d" class="viewInput"><arg key="table" value="px_docs"/></operator>
        <operator name="q" class="viewInput"><arg key="table" value="px_qs"/></operator>
        <operator name="px" class="proximityTopK">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
          <arg key="qid" value="qid"/><arg key="qtext" value="qtext"/>
          <arg key="window" value="3"/>
        </operator>
        <connect from="d.outport1" to="px.inport1"/>
        <connect from="q.outport1" to="px.inport2"/>
      </pipeline>""")
    val got = graft.plans.PipelineCompiler.compile(spec, spark)("px.outport1")
      .collect().map(_.toSeq).toSeq
    val api = graft.api.GraftOps.proximityTopK(spark.table("px_docs"),
        col("doc_id"), col("text"), spark.table("px_qs"),
        col("qid"), col("qtext"), window = 3)
      .collect().map(_.toSeq).toSeq
    assert(got.toSet == api.toSet && got.nonEmpty,
      s"XML proximity == API: $got")
  }

  test("PCA registry ops: gramMatrix XML == API; pcaFit model flows by port into pcaProject") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    IndexedSeq.tabulate(60) { i =>
      val t = rnd.nextGaussian()
      (i.toLong, IndexedSeq(t.toFloat, (-t).toFloat,
        (rnd.nextGaussian() * 0.1).toFloat))
    }.toDF("id", "v").createOrReplaceTempView("pca_rows")
    val spec = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="in1" class="viewInput"><arg key="table" value="pca_rows"/></operator>
        <operator name="g" class="gramMatrix">
          <arg key="vec" value="v"/><arg key="dim" value="3"/>
        </operator>
        <operator name="fit" class="pcaFit">
          <arg key="vec" value="v"/><arg key="dim" value="3"/><arg key="k" value="2"/>
        </operator>
        <operator name="prj" class="pcaProject">
          <arg key="vec" value="v"/><arg key="dim" value="3"/>
        </operator>
        <connect from="in1.outport1" to="g.inport1"/>
        <connect from="in1.outport1" to="fit.inport1"/>
        <connect from="in1.outport1" to="prj.inport1"/>
        <connect from="fit.outport1" to="prj.inport2"/>
      </pipeline>""")
    val outs = graft.plans.PipelineCompiler.compile(spec, spark)
    val dataDf = spark.table("pca_rows")
    assert(outs("g.outport1").collect().map(_.toSeq).toSet ==
      graft.api.GraftOps.gramMatrix(dataDf, col("v"), 3)
        .collect().map(_.toSeq).toSet, "XML gram == API gram")
    val apiModel = graft.api.GraftOps.pcaFit(dataDf, col("v"), 3, 2)
    assert(outs("fit.outport1").collect().map(_.toSeq).toSet ==
      apiModel.collect().map(_.toSeq).toSet, "XML model == API model")
    val apiProj = graft.api.GraftOps.pcaProject(dataDf, col("v"), apiModel, 3)
      .select("id", "proj").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val xmlProj = outs("prj.outport1").select("id", "proj").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(xmlProj == apiProj, "XML projection == API projection")
  }

  test("sketch-algebra (cms/kmv) + winnowing registry ops: XML == API") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    (Seq.fill(30)("a") ++ Seq.fill(10)("b") ++ (1 to 20).map(i => s"k$i"))
      .toDF("k").createOrReplaceTempView("sk_keys")
    // cmsSketch → cmsQuery wired through ports (sketch on inport1, query
    // keys on inport2) + the one-shot report, all vs API compositions
    val spec = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="in1" class="viewInput"><arg key="table" value="sk_keys"/></operator>
        <operator name="sk" class="cmsSketch">
          <arg key="key" value="k"/><arg key="depth" value="3"/><arg key="width" value="16"/>
        </operator>
        <operator name="q" class="cmsQuery">
          <arg key="key" value="k"/><arg key="depth" value="3"/><arg key="width" value="16"/>
        </operator>
        <operator name="rep" class="cmsFrequencyReport">
          <arg key="key" value="k"/><arg key="depth" value="3"/>
          <arg key="width" value="16"/><arg key="topN" value="2"/>
        </operator>
        <connect from="in1.outport1" to="sk.inport1"/>
        <connect from="sk.outport1" to="q.inport1"/>
        <connect from="in1.outport1" to="q.inport2"/>
        <connect from="in1.outport1" to="rep.inport1"/>
      </pipeline>""")
    val outs = graft.plans.PipelineCompiler.compile(spec, spark)
    val keysDf = spark.table("sk_keys")
    val apiSk = graft.api.GraftOps.cmsSketch(keysDf, col("k"), 3, 16)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(cells(outs("sk.outport1")) == cells(apiSk), "XML sketch == API sketch")
    val apiQ = graft.api.GraftOps.cmsQuery(apiSk, keysDf, col("k"), 3, 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(outs("q.outport1").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == apiQ,
      "XML query == API query")
    val apiRep = graft.api.GraftOps.cmsFrequencyReport(keysDf, col("k"), 3, 16, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(outs("rep.outport1").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == apiRep, "XML report == API report")
    // kmvSketch / kmvOverlapReport
    ((1 to 30).map(i => ("g1", s"v$i")) ++ (21 to 45).map(i => ("g2", s"v$i")))
      .toDF("g", "v").createOrReplaceTempView("kmv_rows")
    val spec2 = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="in1" class="viewInput"><arg key="table" value="kmv_rows"/></operator>
        <operator name="sk" class="kmvSketch">
          <arg key="group" value="g"/><arg key="value" value="v"/><arg key="k" value="12"/>
        </operator>
        <operator name="rep" class="kmvOverlapReport">
          <arg key="group" value="g"/><arg key="value" value="v"/><arg key="k" value="12"/>
        </operator>
        <connect from="in1.outport1" to="sk.inport1"/>
        <connect from="in1.outport1" to="rep.inport1"/>
      </pipeline>""")
    val outs2 = graft.plans.PipelineCompiler.compile(spec2, spark)
    val rowsDf = spark.table("kmv_rows")
    assert(outs2("sk.outport1").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
      graft.api.GraftOps.kmvSketch(rowsDf, col("g"), col("v"), 12)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet,
      "XML kmv sketch == API")
    assert(outs2("rep.outport1").collect().map(_.toSeq).toSet ==
      graft.api.GraftOps.kmvOverlapReport(rowsDf, col("g"), col("v"), 12)
        .collect().map(_.toSeq).toSet,
      "XML kmv report == API")
    // winnowFingerprints / winnowOverlapReport (defaults resolved in XML)
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    Seq((1L, s"one two three $shared nine"), (2L, s"$shared tail words here"))
      .toDF("doc_id", "text").createOrReplaceTempView("wn_docs")
    val spec3 = graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="in1" class="viewInput"><arg key="table" value="wn_docs"/></operator>
        <operator name="fp" class="winnowFingerprints">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
        </operator>
        <operator name="rep" class="winnowOverlapReport">
          <arg key="id" value="doc_id"/><arg key="text" value="text"/>
          <arg key="minShared" value="1"/>
        </operator>
        <connect from="in1.outport1" to="fp.inport1"/>
        <connect from="in1.outport1" to="rep.inport1"/>
      </pipeline>""")
    val outs3 = graft.plans.PipelineCompiler.compile(spec3, spark)
    val docsDf = spark.table("wn_docs")
    assert(outs3("fp.outport1").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      graft.api.GraftOps.winnowFingerprints(docsDf, col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "XML winnow fingerprints == API")
    assert(outs3("rep.outport1").collect().map(_.toSeq).toSet ==
      graft.api.GraftOps.winnowOverlapReport(docsDf, col("doc_id"),
          col("text"), minShared = 1)
        .collect().map(_.toSeq).toSet,
      "XML winnow report == API")
  }

  test("declarative stream sinks start under their op name; each log read back == the batch twin") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import spark.implicits._
    import graft.api.GraftOps
    import graft.streaming.StreamingOps
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq; case x => x }.mkString("|")).toSeq.sorted
    // query ids by name, terminal errors by id: an availableNow query
    // may end before compile returns, and is still found and awaited
    val started = new java.util.concurrent.ConcurrentHashMap[String, java.util.UUID]()
    val ended = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit =
        Option(e.name).foreach(started.put(_, e.id))
      def onQueryProgress(e: QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        ended.put(e.id, e.exception.getOrElse(""))
    }
    // one fileStreamInput over `in`, plus viewInput side ports, into `op`
    // with trigger=availableNow; runs the query named `op` to its end and
    // returns the log path
    def runSink(op: String, in: DataFrame, ddl: String,
        args: Map[String, String], sides: Map[String, String] = Map.empty): String = {
      val staging = tmp("cov-in"); in.write.mode("overwrite").parquet(staging)
      val path = tmp("cov-log")
      val all = args ++ Map("path" -> path, "checkpoint" -> tmp("cov-ck"),
        "trigger" -> "availableNow")
      val xml = s"""
        <pipeline>
          <operator name="src" class="fileStreamInput">
            <arg key="path" value="$staging"/><arg key="format" value="parquet"/>
            <arg key="schema" value="${ddl.replace("<", "&lt;").replace(">", "&gt;")}"/>
          </operator>
          ${sides.map { case (p, v) => s"""<operator name="side_$p" class="viewInput">
            <arg key="table" value="$v"/></operator>""" }.mkString}
          <operator name="sink" class="$op">
            ${all.map { case (k, v) => s"""<arg key="$k" value="$v"/>""" }.mkString}
          </operator>
          <connect from="src.outport1" to="sink.inport1"/>
          ${sides.keys.map(p => s"""<connect from="side_$p.outport1" to="sink.$p"/>""").mkString}
        </pipeline>"""
      started.clear()
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      PipelineCompiler.compile(PipelineSpec.parseXml(xml), spark)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
        s"$op compile must restore the session's shuffle-partition conf")
      val id = Option(started.get(op))
        .getOrElse(fail(s"$op did not start a query named $op"))
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!ended.containsKey(id) && System.nanoTime() < deadline) Thread.sleep(50)
      Option(spark.streams.get(id)).foreach(_.stop())
      val err = Option(ended.get(id))
        .getOrElse(fail(s"$op did not finish its availableNow run"))
      assert(err.isEmpty, s"$op failed: $err")
      path
    }
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "a different sentence about streams and their sinks"),
      (4L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val docsDdl = "id BIGINT, text STRING"
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val vecs = Seq((1L, v(1.0, 0.02, 0.0)), (2L, v(0.98, 0.05, 0.0)),
      (3L, v(0.0, 0.01, 1.0)), (4L, v(0.02, 0.0, 0.97))).toDF("id", "vec")
    val fit = GraftOps.kmeansFit(vecs, col("id"), col("vec"), k = 2, iters = 2)
    val model = spark.createDataFrame(
      java.util.Arrays.asList(fit.collect(): _*), fit.schema)
    model.createOrReplaceTempView("cov_sem_model")
    val rnd = new scala.util.Random(61)
    def png(seed: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val g = r.nextInt(256); img.setRGB(x, y, (g << 16) | (g << 8) | g) }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def wav(): Array[Byte] = {
      val pcm = Array.fill(512)(rnd.nextInt(256).toByte)
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, 256L),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    def gif(s: Int): Array[Byte] = graft.operators.MultimodalOps.syntheticGrayGif(
      8, 8, 3, (f, x, y) => math.abs((s * 7919 + f * 997 + x * 131 + y * 31) % 256))
    val corrupt = Array[Byte](9, 9, 9)
    val media = Map(
      "image" -> Seq((1L, png(1)), (2L, png(2)), (3L, png(1)), (4L, corrupt)),
      "audio" -> Seq((1L, wav()), (2L, wav()), (3L, corrupt)),
      "video" -> Seq((1L, gif(1)), (2L, gif(2)), (3L, corrupt)))
      .map { case (k, s) => k -> s.toDF("id", "payload") }
    val mediaTwin = Map[String, DataFrame => DataFrame](
      "image" -> (StreamingOps.imageDupIndex(_, col("id"), col("payload"))),
      "audio" -> (StreamingOps.audioDupIndex(_, col("id"), col("payload"))),
      "video" -> (StreamingOps.videoDupIndex(_, col("id"), col("payload"))))
    val changes = Seq((1L, 1L, 10L, "u", "a1"), (2L, 5L, 11L, "u", "b1"),
      (3L, 9L, 13L, "d", ""), (1L, 3L, 14L, "u", "a2"),
      (2L, 2L, 15L, "u", "bOLD"), (3L, 5L, 16L, "u", "cOLD"))
      .toDF("k", "v", "seq", "op", "payload")
    val golden = Seq[(Long, Long, Long, Option[String], Option[String])](
      (1L, 5L, 10L, Some("e5"), None), (1L, 3L, 11L, Some("eOLD"), Some("p3")),
      (2L, 1L, 12L, Some("x1"), Some("y1")), (2L, 4L, 14L, None, Some("y4")))
      .toDF("k", "v", "seq", "email", "phone")
    val keys = Seq(("g1", "a"), ("g1", "b"), ("g2", "a"), ("g1", "a"),
      ("g1", "c"), ("g2", "d")).toDF("g", "v")
    val updArgs = Map("key" -> "k", "version" -> "v", "tiebreak" -> "seq")
    // one row per sink: the log is read back through `read` (the op's
    // read face, or the index itself) and compared with the batch `twin`
    final case class Case(op: String, args: Map[String, String], in: DataFrame,
        ddl: String, read: String => DataFrame, twin: DataFrame,
        sides: Map[String, String] = Map.empty)
    val parquet: String => DataFrame = spark.read.parquet(_)
    val cases = Seq(
      Case("parquetStreamSink", Map.empty, docs, docsDdl, parquet, docs),
      Case("nearDupAppendSink", Map("id" -> "id", "text" -> "text"), docs, docsDdl,
        parquet, StreamingOps.nearDupIndex(docs, col("id"), col("text"))),
      Case("semanticDupAppendSink", Map("id" -> "id", "vec" -> "vec"), vecs,
        "id BIGINT, vec ARRAY<FLOAT>", parquet,
        StreamingOps.semanticDupIndex(vecs, col("id"), col("vec"), model),
        sides = Map("inport2" -> "cov_sem_model")),
      Case("spanIndexAppendSink", Map("id" -> "id", "text" -> "text"), docs, docsDdl,
        p => GraftOps.spanIndexFromCounts(spark.read.parquet(p)),
        GraftOps.spanIndexFromCounts(
          GraftOps.spanIndexCounts(docs, col("id"), col("text"), 5))),
      Case("upsertAppendSink", updArgs + ("shufflePartitions" -> "3"), changes,
        "k BIGINT, v BIGINT, seq BIGINT, op STRING, payload STRING",
        p => StreamingOps.upsertState(spark, p, Seq("k"), "v", "seq", col("op") === "d"),
        GraftOps.applyChanges(changes, Seq(col("k")), col("v"), col("seq"),
          col("op") === "d")),
      Case("goldenRecordAppendSink", updArgs + ("fields" -> "email,phone"), golden,
        "k BIGINT, v BIGINT, seq BIGINT, email STRING, phone STRING",
        p => StreamingOps.goldenRecordState(spark, p, Seq("k"), "v", Seq("email", "phone")),
        GraftOps.goldenRecord(golden, Seq(col("k")), "v", "seq", Seq("email", "phone"))),
      Case("cmsAppendSink", Map("key" -> "v", "depth" -> "3", "width" -> "8"), keys,
        "g STRING, v STRING", StreamingOps.cmsState(spark, _),
        GraftOps.cmsSketch(keys, col("v"), 3, 8)),
      Case("kmvAppendSink", Map("group" -> "g", "value" -> "v", "k" -> "2"), keys,
        "g STRING, v STRING", StreamingOps.kmvState(spark, _, 2),
        GraftOps.kmvSketch(keys, col("g"), col("v"), 2))) ++
      Seq("image", "audio", "video").map(kind => Case("mediaDupAppendSink",
        Map("kind" -> kind, "id" -> "id", "payload" -> "payload"), media(kind),
        "id BIGINT, payload BINARY", parquet, mediaTwin(kind)(media(kind))))
    spark.streams.addListener(listener)
    try cases.foreach { c =>
      val want = rows(c.twin)
      assert(want.nonEmpty, s"${c.op}: the batch twin must not be empty")
      assert(rows(c.read(runSink(c.op, c.in, c.ddl, c.args, c.sides))) == want,
        s"${c.op} ${c.args.getOrElse("kind", "")}: log read back != batch twin")
    } finally spark.streams.removeListener(listener)
    // kafkaOutput starts through the same protocol; without the connector
    // jar the start fails under the node's name
    val connector = scala.util.Try(
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")).isSuccess
    if (!connector) {
      val e = intercept[PipelineException](runSink("kafkaOutput", docs, docsDdl,
        Map("brokers" -> "localhost:9092", "topic" -> "t")))
      assert(e.getMessage.startsWith("sink run failed."), e.getMessage)
    }
  }

  test("an unknown tier or curve, a negative triggerMs, or trigger with triggerMs fails the compile") {
    val dir = java.nio.file.Files.createTempDirectory("bad-arg-in")
    java.nio.file.Files.writeString(dir.resolve("a.json"), """{"id": 1}""" + "\n")
    val src = OpNode("src", "fileStreamInput",
      Map("schema" -> "id BIGINT", "path" -> dir.toUri.toString))
    def sink(args: (String, String)*) = PipelineSpec(
      Seq(src, OpNode("sink", "memoryStreamSink", Map("name" -> "bad_arg_out") ++ args)),
      Seq(Edge("src.outport1", "sink.inport1")))
    val cases = Seq(
      PipelineSpec(Seq(OpNode("ix", "indexAppendSink", Map("tier" -> "residul",
        "id" -> "id", "vec" -> "vec", "dim" -> "2", "path" -> "p",
        "checkpoint" -> "c"))), Nil) -> "indexAppendSink tier must be one of raw, residual",
      PipelineSpec(Seq(OpNode("zo", "zorder", Map("curve" -> "hilbrt",
        "x" -> "a", "y" -> "b"))), Nil) -> "zorder curve must be one of z, hilbert",
      sink("triggerMs" -> "-5") -> "triggerMs must be >= 0",
      sink("trigger" -> "availableNow", "triggerMs" -> "0") ->
        "give trigger or triggerMs, not both")
    cases.foreach { case (spec, msg) =>
      val e = intercept[PipelineException](PipelineCompiler.compile(spec, spark))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    assert(!spark.streams.active.exists(_.name == "bad_arg_out"),
      "a rejected trigger starts no query")
  }

  test("bad operator args fail-fast with node name") {
    val spec = PipelineSpec(
      nodes = Seq(OpNode("in", "parquetInput", Map("dir" -> sf001, "table" -> "nope"))),
      edges = Nil)
    val e = intercept[PipelineException](PipelineCompiler.compile(spec, spark))
    assert(e.getMessage.startsWith("in run failed."))
  }
}
