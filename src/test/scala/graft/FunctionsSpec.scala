package graft

class FunctionsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("map functions: create, keys/values, transform_values, concat, lookup") {
    val df = Seq((1, 10.0, 20.0)).toDF("id", "a", "b")
      .select($"id",
        map(lit("a"), $"a", lit("b"), $"b").as("m"))
      .select($"id", $"m",
        map_keys($"m").as("ks"),
        map_values($"m").as("vs"),
        element_at($"m", "b").as("b_val"),
        transform_values($"m", (_, v) => v * 2).as("doubled"),
        map_concat($"m", map(lit("c"), lit(99.0))).as("extended"))
    val r = df.head()
    assert(r.getSeq[String](2).sorted == Seq("a", "b"))
    assert(r.getSeq[Double](3).sorted == Seq(10.0, 20.0))
    assert(r.getDouble(4) == 20.0)
    assert(r.getMap[String, Double](5)("a") == 20.0)
    assert(r.getMap[String, Double](6)("c") == 99.0)
  }

  test("collect_list preserves per-group values; collect_set dedups") {
    val df = Seq((1, "x"), (1, "y"), (1, "x"), (2, "z"))
      .toDF("k", "v")
      .groupBy($"k")
      .agg(sort_array(collect_list($"v")).as("lst"),
        sort_array(collect_set($"v")).as("st"))
      .orderBy($"k")
    val rows = df.collect()
    assert(rows(0).getSeq[String](1) == Seq("x", "x", "y"))
    assert(rows(0).getSeq[String](2) == Seq("x", "y"))
    assert(rows(1).getSeq[String](1) == Seq("z"))
  }

  test("seeded sampling is deterministic and approximately sized") {
    val ev = graft.schema.Schemas.events(spark, sf)
    val a = ev.sample(withReplacement = false, 0.2, seed = 42)
      .select($"event_id").as[Long].collect().toSeq
    val b = ev.sample(withReplacement = false, 0.2, seed = 42)
      .select($"event_id").as[Long].collect().toSeq
    assert(a == b)
    assert(a.length > 100 && a.length < 300) // ~200 of 1000
  }

  test("GraftExtensions.register exposes simhash60 and float_dot to SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT simhash60(array('a', 'b', 'c')) AS h,
        |  float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |            array(CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d
        |""".stripMargin).head()
    assert(r.getLong(0) != 0L)
    assert(r.getDouble(1) == 4.0)
    // the full injected surface answers from SQL (round-12 closed the
    // intersect_count_sorted gap)
    val ic = spark.sql(
      """SELECT intersect_count_sorted(array(1L, 3L, 5L),
        |  array(3L, 4L, 5L)) AS c""".stripMargin).head()
    assert(ic.getLong(0) == 2L)
    // a wrong argument count fails analysis with the signature named,
    // not a raw IndexOutOfBounds / NoSuchElement, and never drops an arg
    for ((call, sig) <- Seq(
        "simhash60(array('a'), array('b'))" -> "simhash60(toks) takes 1 argument, got 2",
        "simhash60()" -> "simhash60(toks) takes 1 argument, got 0",
        "float_dot(array(CAST(1.0 AS FLOAT)))" -> "float_dot(a, b) takes 2 arguments, got 1",
        "jl_project(array(CAST(1.0 AS FLOAT)))" ->
          "jl_project(emb, outDim) takes 2 arguments, got 1")) {
      val e = intercept[Exception](spark.sql(s"SELECT $call AS x").collect())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains(sig)), s"$call: $e")
    }
  }

  test("intersect3_count_sorted_excl: three-way merge count, exclusion, " +
      "brute-force parity on random sorted sets") {
    GraftExtensions.register(spark)
    def q(a: Seq[Long], b: Seq[Long], c: Seq[Long], x: Long): Long = {
      def arr(s: Seq[Long]) =
        if (s.isEmpty) "CAST(array() AS ARRAY<BIGINT>)"
        else s.mkString("array(", "L,", "L)")
      spark.sql(s"SELECT intersect3_count_sorted_excl(${arr(a)}, ${arr(b)}, " +
        s"${arr(c)}, ${x}L) AS c").head().getLong(0)
    }
    // the ego courier shape: w ∈ N(u) ∩ N(v) ∩ N(z), w ≠ z
    assert(q(Seq(1, 3, 5, 9), Seq(3, 5, 7, 9), Seq(3, 9), 9) == 1L)
    assert(q(Seq(1, 3, 5, 9), Seq(3, 5, 7, 9), Seq(3, 9), 0) == 2L)
    assert(q(Seq(), Seq(1), Seq(1), 0) == 0L)
    assert(q(Seq(2), Seq(2), Seq(2), 2) == 0L)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 25) {
      val mk = () => Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong)
        .distinct.sorted
      val (a, b, c) = (mk(), mk(), mk())
      val x = rnd.nextInt(60).toLong
      val want = (a.toSet & b.toSet & c.toSet - x).size.toLong
      assert(q(a, b, c, x) == want, s"a=$a b=$b c=$c x=$x")
    }
  }

  test("sign_lsh_sigs: SQL-exposed, one long per table, interpreted == codegen path") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT sign_lsh_sigs(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)),
        |  4, 8) AS sigs""".stripMargin).head()
    val sigs = r.getSeq[Long](0)
    assert(sigs.length == 4)
    // 8 sign bits per table: every signature fits the declared bit width
    assert(sigs.forall(s => s >= 0 && s < 256))
    // deterministic: planes are pure functions of (t, i, j) seeds
    val again = spark.sql(
      """SELECT sign_lsh_sigs(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)),
        |  4, 8) AS sigs""".stripMargin).head().getSeq[Long](0)
    assert(sigs == again)
  }

  test("float_dot null/length semantics: null input -> null; short arrays -> min-length fold") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT float_dot(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS n,
        |  float_dot(array(CAST(2.0 AS FLOAT)),
        |            array(CAST(3.0 AS FLOAT), CAST(9.0 AS FLOAT))) AS d
        |""".stripMargin).head()
    assert(r.isNullAt(0))
    assert(r.getDouble(1) == 6.0)
  }
}
