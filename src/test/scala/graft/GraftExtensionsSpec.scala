package graft

import org.apache.spark.sql.functions._
import graft.plans.GraftExtensions
import graft.operators.Similarity

/** Native cosine_sim expression: agrees with the HOF formulation, runs
  * inside whole-stage codegen (no ScalaUDF / no interpreted fallback). */
class GraftExtensionsSpec extends SparkSpec {

  import spark.implicits._

  test("cosine_sim matches the expression formulation at 1e-12") {
    GraftExtensions.register(spark)
    val df = Seq(
      (1L, Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),
      (2L, Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),
      (3L, Array(1.0, 2.0, -1.0), Array(-2.0, 0.5, 4.0)),
      (4L, Array(0.5, 0.25, 0.125), Array(8.0, 4.0, 2.0))
    ).toDF("id", "a", "b")
    val out = df
      .withColumn("native", expr("cosine_sim(a, b)"))
      .withColumn("hof", Similarity.cosine(col("a"), col("b")))
      .select("id", "native", "hof").collect()
    out.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-12, s"row ${r.getLong(0)}")
    }
    assert(math.abs(out.find(_.getLong(0) == 1L).get.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(out.find(_.getLong(0) == 2L).get.getDouble(1)) < 1e-12)
  }

  test("cosine_sim stays codegen (no ScalaUDF in the plan)") {
    GraftExtensions.register(spark)
    val df = Seq((1L, Array(1.0, 2.0), Array(3.0, 4.0))).toDF("id", "a", "b")
    val plan = df.withColumn("c", expr("cosine_sim(a, b)"))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("ScalaUDF"), plan)
    // generated code compiles: force execution through codegen
    val v = df.withColumn("c", expr("cosine_sim(a, b)")).select("c").collect()(0).getDouble(0)
    val expect = (1 * 3 + 2 * 4) / (math.sqrt(5.0) * math.sqrt(25.0))
    assert(math.abs(v - expect) < 1e-12)
  }

  test("jaccard_sorted merge-counts sorted long arrays (codegen, no UDF)") {
    GraftExtensions.register(spark)
    val df = Seq(
      (1L, Array(1L, 2L, 3L, 9L), Array(2L, 3L, 4L)),
      (2L, Array(1L, 2L), Array(1L, 2L)),
      (3L, Array(1L, 2L), Array(5L, 6L)),
      (4L, Array.empty[Long], Array.empty[Long])
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), expr("jaccard_sorted(a, b)").as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 2.0 / 5.0) < 1e-12)
    assert(got(2L) == 1.0)
    assert(got(3L) == 0.0)
    assert(got(4L) == 1.0) // empty vs empty: union 0 → defined as identical
    val plan = df.select(expr("jaccard_sorted(a, b)")).queryExecution.executedPlan.toString()
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("null inputs propagate null") {
    GraftExtensions.register(spark)
    val df = Seq((1L, Option(Array(1.0)), Option.empty[Array[Double]]))
      .toDF("id", "a", "b")
    val v = df.selectExpr("cosine_sim(a, b) AS c").collect()(0)
    assert(v.isNullAt(0))
    assert(df.selectExpr("dot_arr(a, b) AS d").collect()(0).isNullAt(0))
  }

  test("dot_arr: index-order sum, length-mismatch truncation, codegen") {
    GraftExtensions.register(spark)
    val df = Seq(
      (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (2L, Array(1.0, 2.0), Array(3.0, 4.0, 5.0)), // truncates to min length
      (3L, Array.empty[Double], Array.empty[Double])
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), expr("dot_arr(a, b)").as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 1 * 4 + 2 * 5 + 3 * 6.0)
    assert(got(2L) == 1 * 3 + 2 * 4.0)
    assert(got(3L) == 0.0)
    val plan = df.select(expr("dot_arr(a, b)")).queryExecution.executedPlan.toString()
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("hyperplane_sketch sign bits, nearest_cells stable ties") {
    import org.apache.spark.sql.GraftColumnBridge
    import graft.plans.{HyperplaneSketchExpr, NearestCellsExpr}
    val planes = Seq(Seq(1.0, 0.0), Seq(-1.0, 0.5), Seq(0.0, -1.0))
    val cents = Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0))
    val df = Seq(
      (1L, Array(2.0, 1.0)),
      (2L, Array(-1.0, -1.0)),
      (3L, Array(0.5, 0.5)) // equidistant to all four centroids: ties → ascending index
    ).toDF("id", "v")
    val out = df.select(col("id"),
      GraftColumnBridge.column(HyperplaneSketchExpr(
        GraftColumnBridge.expression(col("v")), planes)).as("sig"),
      GraftColumnBridge.column(NearestCellsExpr(
        GraftColumnBridge.expression(col("v")), cents, 3)).as("cells"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toSeq)).toList
    val byId = out.map(t => t._1 -> (t._2, t._3)).toMap
    // row 1: dots = (2, -1.5, -1) → only plane 0 positive → bit 0
    assert(byId(1L)._1 == 1L)
    // row 2: dots = (-2, 0.5, 1) → planes 1 and 2 → bits 1+2 = 6
    assert(byId(2L)._1 == 6L)
    // row 3 ties: stable ascending cell order
    assert(byId(3L)._2 == Seq(0, 1, 2))
    // row 1 nearest: (2,1) → d²: c0=5, c1=2, c2=4, c3=1 → order 3,1,2
    assert(byId(1L)._2 == Seq(3, 1, 2))
    // structural equality of the closure state (Seq, not Array): two
    // independently built expressions over equal planes must compare
    // equal or CSE/exchange reuse can never deduplicate them. The same
    // child expression is shared — column nodes carry call-site Origins
    // that differ across col() calls; the field under test is the matrix.
    val childE = GraftColumnBridge.expression(col("v"))
    assert(HyperplaneSketchExpr(childE, planes.map(_.toVector).toVector) ==
      HyperplaneSketchExpr(childE, planes))
    assert(NearestCellsExpr(childE, cents.map(_.toVector).toVector, 3) ==
      NearestCellsExpr(childE, cents, 3))
  }

  test("robots_allowed resolves through the SQL registry; agent defaults and literal form") {
    GraftExtensions.register(spark)
    val robots = "User-agent: *\nAllow: /pub\nDisallow: /\n"
    Seq((1L, robots, "/pub/a"), (2L, robots, "/secret"))
      .toDF("id", "r", "p").createOrReplaceTempView("robots_probe")
    val got = spark.sql(
      "SELECT id, robots_allowed(r, p) AS d, robots_allowed(r, p, 'foobot') AS f " +
      "FROM robots_probe ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    assert(got.toSeq == Seq((1L, true, true), (2L, false, false)))
    val ex = intercept[Exception] {
      spark.sql("SELECT robots_allowed(r, p, id) FROM robots_probe").collect()
    }
    assert(ex.getMessage.contains("string literal"))
  }

  test("xxhash_arr / minhash_sig match the transform + UDF chain bit-for-bit") {
    import org.apache.spark.sql.GraftColumnBridge
    def natHash(c: org.apache.spark.sql.Column, sorted: Boolean) =
      GraftColumnBridge.column(graft.plans.XxHashArrExpr(
        GraftColumnBridge.expression(c), sorted))
    def natSig(c: org.apache.spark.sql.Column, n: Int) =
      GraftColumnBridge.column(graft.plans.MinHashSigExpr(
        GraftColumnBridge.expression(c), n))
    // the retired UDF, reconstructed verbatim
    val oldSig = udf { (hs: Seq[Long]) =>
      val mins = Array.fill(8)(Long.MaxValue)
      hs.foreach { h0 =>
        var i = 0
        while (i < 8) {
          var z = h0 + 0x9E3779B97F4A7C15L * (i + 1)
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z = z ^ (z >>> 31)
          if (z < mins(i)) mins(i) = z
          i += 1
        }
      }
      mins.toSeq
    }
    val df = Seq(
      (1L, Array("abcde", "bcdef", "zzz", "", "日本語")),
      (2L, Array("x")),
      (3L, Array.empty[String])
    ).toDF("id", "sh")
      .union(Seq(4L).toDF("id")
        .selectExpr("id", "array('a', cast(null as string), 'b') as sh"))
    val out = df.select(col("id"),
      natHash(col("sh"), sorted = true).as("nsorted"),
      sort_array(transform(col("sh"), s => xxhash64(s))).as("osorted"),
      natHash(col("sh"), sorted = false).as("nraw"),
      transform(col("sh"), s => xxhash64(s)).as("oraw"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"id=${r.getLong(0)} sorted")
      assert(r.getSeq[Any](3) == r.getSeq[Any](4), s"id=${r.getLong(0)} raw")
    }
    val sig = df.where(col("id") <= 3L).select(col("id"),
      natSig(natHash(col("sh"), sorted = true), 8).as("n"),
      oldSig(sort_array(transform(col("sh"), s => xxhash64(s)))).as("o"))
      .collect()
    sig.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"id=${r.getLong(0)} sig")
    }
    // empty input leaves every slot at Long.MaxValue (the UDF contract)
    val empty = sig.find(_.getLong(0) == 3L).get
    assert(empty.getSeq[Long](1).forall(_ == Long.MaxValue))
    val plan = df.repartition(2)
      .select(natSig(natHash(col("sh"), sorted = true), 8))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("ScalaUDF") && !plan.contains("lambdafunction"), plan)
  }

  test("gram_hashes matches the interpreted transform chains bit-for-bit") {
    import graft.functions.TextFunctions
    val df = Seq(
      (1L, Array("the", "quick", "brown", "fox", "jumps")),
      (2L, Array("a")), // shorter than any n >= 2
      (3L, Array("dup", "dup", "dup", "dup")), // distinct collapses grams
      (4L, Array.empty[String]),
      (5L, Array("", "x", "")) // empty tokens are legal input
    ).toDF("id", "toks")
      .union(Seq(6L).toDF("id")
        .selectExpr("id", "array('a', cast(null as string), 'b', 'c') as toks"))
      .union(Seq(7L).toDF("id").selectExpr("id", "cast(null as array<string>) as toks"))
    // n = 1, raw and mod (the simhash / hashing-TF chains)
    val one = df.select(col("id"),
      TextFunctions.gramHashes(col("toks"), 1).as("n1"),
      transform(col("toks"), t => TextFunctions.portableHash(t)).as("o1"),
      TextFunctions.gramHashes(col("toks"), 1, mod = 97).as("n1m"),
      transform(col("toks"), t => pmod(TextFunctions.portableHash(t), lit(97))).as("o1m"))
      .collect()
    one.foreach { r =>
      Seq((1, 2), (3, 4)).foreach { case (ni, oi) =>
        assert(r.isNullAt(ni) == r.isNullAt(oi), s"id=${r.getLong(0)} null mismatch")
        if (!r.isNullAt(ni))
          assert(r.getSeq[Any](ni) == r.getSeq[Any](oi),
            s"id=${r.getLong(0)}: ${r.getSeq[Any](ni)} vs ${r.getSeq[Any](oi)}")
      }
    }
    // n = 3, plain and distinct (the span-scrub / span-gram-set chains);
    // the old form throws on size < n, so compare on the guarded rows
    def oldGrams(n: Int) = transform(sequence(lit(0), size(col("toks")) - n),
      i => TextFunctions.portableHash(concat_ws(" ", slice(col("toks"), i + 1, lit(n)))))
    val three = df.where(size(col("toks")) >= 3).select(col("id"),
      TextFunctions.gramHashes(col("toks"), 3).as("n3"),
      oldGrams(3).as("o3"),
      TextFunctions.gramHashes(col("toks"), 3, distinct = true).as("n3d"),
      array_distinct(oldGrams(3)).as("o3d"))
      .collect()
    assert(three.nonEmpty)
    three.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"id=${r.getLong(0)} n=3")
      assert(r.getSeq[Any](3) == r.getSeq[Any](4), s"id=${r.getLong(0)} n=3 distinct")
    }
    // sub-n rows: kernel is total (empty array), old form threw
    val short = df.where(col("toks").isNotNull && size(col("toks")) < 3)
      .select(TextFunctions.gramHashes(col("toks"), 3)).collect()
    short.foreach(r => assert(r.getSeq[Any](0).isEmpty))
    // stays codegen
    val plan = df.repartition(2)
      .select(TextFunctions.gramHashes(col("toks"), 3).as("g"))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("ScalaUDF") && !plan.contains("lambdafunction"), plan)
    assert(plan.contains("gram_hashes"), plan)
  }

  test("unit_vec matches the HOF formulation bit-for-bit (incl. zero/null rows)") {
    // the retired formulation, reconstructed verbatim
    def oldForm(vc: org.apache.spark.sql.Column) = {
      val v = vc.cast("array<double>")
      val n2 = sqrt(aggregate(transform(v, x => x * x), lit(0.0), (s, x) => s + x))
      when(n2 === 0.0, v).otherwise(transform(v, x => x / n2))
    }
    val df = Seq(
      (1L, Array(1.0, 2.0, 3.0)),
      (2L, Array(0.0, 0.0, 0.0)), // all-zero: passthrough, no DIVIDE_BY_ZERO
      (3L, Array(-0.5, 1e-300, 4.25)),
      (4L, Array(0.1, 0.2, 0.30000000000000004)), // non-representable sums
      (5L, Array.empty[Double])
    ).toDF("id", "v")
      // a null-element row (Array can't hold null doubles via toDF)
      .union(Seq(6L).toDF("id").selectExpr("id", "array(1.0, cast(null as double), 2.0) as v"))
      .union(Seq(7L).toDF("id").selectExpr("id", "cast(null as array<double>) as v"))
    val out = Similarity.withUnitVec(df, "v", "n")
      .withColumn("o", oldForm(col("v")))
      .select("id", "n", "o").collect()
    out.foreach { r =>
      if (r.isNullAt(1) || r.isNullAt(2)) {
        assert(r.isNullAt(1) == r.isNullAt(2), s"id=${r.getLong(0)} null mismatch")
      } else {
        val n = r.getSeq[Any](1)
        val o = r.getSeq[Any](2)
        assert(n == o, s"id=${r.getLong(0)}: $n vs $o") // bit-exact incl. null elems
      }
    }
    // stays codegen: no interpreted HOF lambdas, no ScalaUDF
    val plan = df.repartition(2).select(
        org.apache.spark.sql.GraftColumnBridge.column(graft.plans.UnitVecExpr(
          org.apache.spark.sql.GraftColumnBridge.expression(col("v").cast("array<double>")))))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("ScalaUDF") && !plan.contains("lambdafunction"), plan)
  }

  test("winnow_fps matches the pre-r14 UDF+HOF formulation bit-for-bit") {
    import graft.functions.TextFunctions
    // the retired formulation, reconstructed verbatim (TreeSet = distinct
    // ascending; null Seq → empty array)
    val oldWinnow = udf { (hashes: Seq[Long], w: Int) =>
      if (hashes == null || hashes.isEmpty) Array.empty[Long]
      else {
        val n = hashes.length
        val win = math.min(w, n)
        val out = new java.util.TreeSet[java.lang.Long]()
        var i = 0
        while (i + win <= n) {
          var m = hashes(i); var j = i + 1
          while (j < i + win) { if (hashes(j) < m) m = hashes(j); j += 1 }
          out.add(m)
          i += 1
        }
        out.toArray(Array.empty[java.lang.Long]).map(_.longValue)
      }
    }
    def oldForm(c: org.apache.spark.sql.Column, k: Int, w: Int) =
      oldWinnow(transform(TextFunctions.charShingles(c, k),
        g => TextFunctions.portableHash(g)), lit(w))
    val fixtures = Seq(
      (1L, "The quick brown fox jumps over the lazy dog, over and over and over again."),
      (2L, ""), // empty → the single empty gram's hash
      (3L, "ab"), // shorter than k
      (4L, "aaaaaaaaaaaaaaaaaaaaaaaa"), // constant hash sequence → one fp
      (5L, "Füße im Schnee — ÉCLAIR! 日本語 ok"), // non-ASCII
      (6L, null.asInstanceOf[String]), // null → EMPTY array, not null
      (7L, "a b c d e f g h i j k l m n o p q r s t u v w 0 1 2 3 4 5")
    ).toDF("id", "text")
    for ((k, w) <- Seq((5, 4), (3, 2), (9, 7))) {
      // the public wrapper (normalizes first — ASCII fast path)
      val viaWrapper = fixtures.select(col("id"),
        TextFunctions.winnowedFingerprints(col("text"), k, w).as("n"),
        oldForm(TextFunctions.normalizeText(col("text")), k, w).as("o")).collect()
      // the raw expression on UN-normalized text — exercises the
      // code-point (non-ASCII) gram path
      val nat = org.apache.spark.sql.GraftColumnBridge.column(
        graft.plans.WinnowFpExpr(
          org.apache.spark.sql.GraftColumnBridge.expression(col("text")), k, w))
      val viaRaw = fixtures.where(col("text").isNotNull).select(col("id"),
        nat.as("n"), oldForm(col("text"), k, w).as("o")).collect()
      (viaWrapper ++ viaRaw).foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"id=${r.getLong(0)} k=$k w=$w: ${r.getSeq[Long](1)} vs ${r.getSeq[Long](2)}")
      }
      // null text → empty array (the ScalaUDF-with-null-Seq contract)
      val nullRow = viaWrapper.find(_.getLong(0) == 6L).get
      assert(!nullRow.isNullAt(1) && nullRow.getSeq[Long](1).isEmpty)
    }
    // the kernel runs inside codegen: no ScalaUDF boundary in the plan
    // (repartition first or ConvertToLocalRelation folds the Project
    // into a LocalTableScan and there is no plan to inspect)
    val plan = fixtures.repartition(2).select(
        TextFunctions.winnowedFingerprints(col("text")).as("fp"))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.contains("winnow_fps"), plan)
  }
}
