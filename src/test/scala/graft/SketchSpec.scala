package graft

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/**
 * Property tests for the sketch core (SURVEY.md §5.1): the published
 * accuracy contracts of Bloom (CACM 1970) and Count-Min (Cormode &
 * Muthukrishnan 2005), plus the merge-homomorphism property that makes
 * both sketches distributable (result independent of partitioning).
 */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def lineitem = Tables.lineitem(spark, GraftSpark.sf)
  private def events = Tables.events(spark, GraftSpark.sf)

  // ---------------- Bloom filter ----------------

  test("bloom: zero false negatives over every inserted key") {
    val sk = lineitem.agg(bloom_agg($"l_orderkey", 10000L, 0.01).as("bf"))
    val misses = lineitem.join(broadcast(sk))
      .filter(!bloom_might_contain($"bf", $"l_orderkey"))
      .count()
    assert(misses === 0L)
  }

  test("bloom: measured FPP on a disjoint probe set stays near configured fpp") {
    val fpp = 0.01
    val sk = events.agg(bloom_agg($"user_id", 5000L, fpp).as("bf"))
    // probe ids shifted far outside the inserted domain
    val probes = spark.range(1000000, 1020000).toDF("pid")
    val fp = probes.join(broadcast(sk))
      .filter(bloom_might_contain($"bf", $"pid"))
      .count()
    val measured = fp.toDouble / 20000
    assert(measured <= fpp * 3, s"measured FPP $measured > 3x configured $fpp")
  }

  test("bloom: merge homomorphism — sketch independent of partitioning") {
    def build(parts: Int): Array[Byte] =
      lineitem.repartition(parts, $"l_orderkey")
        .agg(bloom_agg($"l_orderkey", 10000L, 0.01).as("bf"))
        .head().getAs[Array[Byte]]("bf")
    assert(java.util.Arrays.equals(build(1), build(7)))
  }

  test("bloom: string keys round-trip (no false negatives on event_type)") {
    val sk = events.agg(bloom_agg($"event_type", 100L, 0.01).as("bf"))
    val misses = events.join(broadcast(sk))
      .filter(!bloom_might_contain($"bf", $"event_type")).count()
    assert(misses === 0L)
  }

  // ---------------- Count-Min sketch ----------------

  test("cms: overestimate-only and within eps*N for every key") {
    val eps = 0.001
    val n = events.count()
    val exact = events.groupBy("user_id").agg(count(lit(1)).as("exact"))
    val sk = events.agg(cms_agg($"user_id", eps, 0.999, 42).as("sk"))
    val checked = exact.join(broadcast(sk))
      .select($"exact", cms_estimate($"sk", $"user_id").as("est"))
      .collect()
    assert(checked.nonEmpty)
    checked.foreach { r =>
      val (ex, est) = (r.getLong(0), r.getLong(1))
      assert(est >= ex, s"CMS underestimated: $est < $ex")
      assert(est <= ex + (eps * n).ceil.toLong,
        s"CMS above eps*N bound: $est > $ex + ${eps * n}")
    }
  }

  test("cms: merge homomorphism — sketch independent of partitioning") {
    def build(parts: Int): Array[Byte] =
      events.repartition(parts, $"user_id")
        .agg(cms_agg($"user_id", 0.01, 0.99, 42).as("sk"))
        .head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(build(1), build(5)))
  }

  test("cms: interoperates with Spark's built-in count_min_sketch format") {
    val builtin = events
      .agg(expr("count_min_sketch(event_type, 0.01d, 0.99d, 42)").as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val cms = CountMinSketch.readFrom(builtin) // same serialized format
    val exact = events.filter($"event_type" === "click").count()
    val est = events.agg(cms_estimate(lit(builtin), lit("click")).as("e"))
      .head().getLong(0)
    assert(est >= exact)
    assert(cms.totalCount() === events.count())
  }

  test("cms: seed pinning — same seed same bytes, different seed different bytes") {
    def build(seed: Int): Array[Byte] =
      events.agg(cms_agg($"user_id", 0.01, 0.99, seed).as("sk"))
        .head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(build(42), build(42)))
    assert(!java.util.Arrays.equals(build(42), build(43)))
  }

  test("cms inner product: brackets the exact join size (CM05 4.2 contract)") {
    // deliberately narrow sketch (width 20) so collisions are certain —
    // the deterministic lower bound must still hold, and the eps upper
    // bound must hold at the pinned seed
    val eps = 0.1
    val skL = events.agg(cms_agg($"user_id", eps, 0.99, 42).as("a"),
      count(lit(1)).as("nl"))
    val skR = Tables.orders(spark, GraftSpark.sf)
      .agg(cms_agg($"o_custkey", eps, 0.99, 42).as("b"), count(lit(1)).as("nr"))
    val exact = events.groupBy($"user_id".as("k")).agg(count(lit(1)).as("cl"))
      .join(Tables.orders(spark, GraftSpark.sf)
        .groupBy($"o_custkey".as("k")).agg(count(lit(1)).as("cr")), "k")
      .agg(coalesce(sum($"cl" * $"cr"), lit(0L)).as("j"))
    val r = skL.join(skR).join(exact)
      .select(cms_inner_product($"a", $"b").as("est"), $"j", $"nl", $"nr")
      .head()
    val (est, j, nl, nr) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(est >= j, s"inner product $est underestimates exact join size $j")
    assert(est.toDouble <= j.toDouble + eps * nl * nr,
      s"inner product $est above eps bound ${j + eps * nl * nr}")
  }

  test("cms inner product: exact when the sketch is collision-free") {
    // width 2000 vs ~100 distinct user ids, min over 7 rows: at the
    // pinned seed the estimate IS the inner product of the exact
    // frequency vectors (verified value equality, not just the bracket)
    val skA = events.filter($"event_type" === "click")
      .agg(cms_agg($"user_id", 0.001, 0.999, 42).as("a"))
    val skB = events.filter($"event_type" === "view")
      .agg(cms_agg($"user_id", 0.001, 0.999, 42).as("b"))
    val exact = events.filter($"event_type" === "click")
      .groupBy($"user_id".as("k")).agg(count(lit(1)).as("ca"))
      .join(events.filter($"event_type" === "view")
        .groupBy($"user_id".as("k")).agg(count(lit(1)).as("cb")), "k")
      .agg(coalesce(sum($"ca" * $"cb"), lit(0L)).as("j"))
    val r = skA.join(skB).join(exact)
      .select(cms_inner_product($"a", $"b").as("est"), $"j").head()
    assert(r.getLong(0) === r.getLong(1))
  }

  test("cms inner product: rejects sketches from different hash families") {
    val a = events.agg(cms_agg($"user_id", 0.01, 0.99, 42).as("s"))
      .head().getAs[Array[Byte]]("s")
    val b = events.agg(cms_agg($"user_id", 0.01, 0.99, 43).as("s"))
      .head().getAs[Array[Byte]]("s")
    val e = intercept[Exception] {
      events.limit(1).select(cms_inner_product(lit(a), lit(b))).head()
    }
    assert(e.getMessage.contains("same eps/confidence/seed")
      || e.getCause != null)
  }

  test("bloom_ndv: Swamidass-Baldi estimate tracks true cardinality across fills") {
    def check(n: Long, est: Double): Unit = {
      val relErr = math.abs(est - n) / n
      assert(relErr < 0.05, s"n=$n est=$est relErr=$relErr")
    }
    for (n <- Seq(100L, 1000L, 4000L)) {
      check(n, spark.range(n).toDF("id")
        .agg(bloom_agg($"id", 5000L, 0.03).as("bf"))
        .select(bloom_ndv($"bf")).head().getDouble(0))
    }
    // a filter with a nonzero hash seed, whose seed is part of the header
    val seeded = BloomFilter.create(5000L, BloomFilter.optimalNumOfBits(5000L, 0.03), 7)
    (0L until 2000L).foreach(i => seeded.putLong(i * 7919L))
    val out = new java.io.ByteArrayOutputStream()
    seeded.writeTo(out)
    check(2000L, spark.range(1).select(bloom_ndv(lit(out.toByteArray))).head().getDouble(0))
  }

  test("bloom_ndv: empty filter estimates 0; saturation yields +inf, not a number") {
    val empty = spark.range(1).filter($"id" < 0)
      .agg(bloom_agg($"id", 100L, 0.01).as("bf"))
      .select(bloom_ndv($"bf")).head().getDouble(0)
    assert(empty === 0.0)
    // 100k distinct into a 100-capacity filter saturates every word
    val sat = spark.range(100000).agg(bloom_agg($"id", 100L, 0.5).as("bf"))
      .select(bloom_ndv($"bf")).head().getDouble(0)
    assert(sat.isPosInfinity || sat > 1e5,
      s"saturated filter should not fabricate a small estimate: $sat")
  }

  test("dyadic decomposition: disjoint, exact cover, O(log) intervals") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val lo = rnd.nextInt(64).toLong
      val hi = lo + rnd.nextInt(64 - lo.toInt)
      val ivs = queries.SketchQueries.dyadic(lo, hi, 5)
      val covered = ivs.flatMap { case (l, p) =>
        (p << l) to ((p + 1L) << l) - 1 }
      assert(covered.sorted === (lo to hi).toSeq,
        s"[$lo,$hi] decomposed to $ivs covering $covered")
      assert(ivs.size <= 2 * 6, s"[$lo,$hi]: ${ivs.size} intervals")
      assert(ivs.forall(_._1 <= 5))
    }
  }

  test("kll: rank-band gate holds and the exact quartiles are ordered") {
    // Round-10 schema: (l_returnflag, exact_p25, exact_p50, exact_p75,
    // kll_rank_ok) — the sketch median is gated on its TRUE RANK sitting
    // in [0.49, 0.51], not on value equality with the exact quantile.
    queries.SourceQueries.queries("q_kll_quantiles")(spark, GraftSpark.sf)
      .collect().foreach { r =>
        val (p25, p50, p75) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
        assert(p25 <= p50 && p50 <= p75,
          s"exact quartiles out of order: p25=$p25 p50=$p50 p75=$p75")
        assert(r.getBoolean(4),
          s"kll_rank_ok false for group ${r.getString(0)}")
      }
  }

  // ---------------- SQL registration ----------------

  test("sketch functions usable from SQL via GraftExtensions") {
    Tables.events(spark, GraftSpark.sf).createOrReplaceTempView("ev_sql")
    val row = spark.sql(
      """SELECT cms_estimate(cms_agg(user_id, 0.01d, 0.99d, 42), 7L) AS est,
        |       bloom_might_contain(bloom_agg(user_id, 1000L, 0.01d), 7L) AS mc
        |FROM ev_sql""".stripMargin).head()
    val exact7 = spark.table("ev_sql").filter($"user_id" === 7).count()
    assert(row.getLong(0) >= exact7)
    if (exact7 > 0) assert(row.getBoolean(1))
  }

  test("newer aggregates and vector functions usable from SQL") {
    Tables.events(spark, GraftSpark.sf).createOrReplaceTempView("ev_new_sql")
    // topk_agg + bitmap_agg from SQL (single bucket: ids 1..100 share
    // bitmap_bucket_number — positions only identify ids WITHIN a bucket,
    // which is why the real query groups by bucket first)
    val r = spark.sql(
      """SELECT topk_agg(CAST(value AS DOUBLE), event_id, 3) AS tk,
        |       bitmap_count(bitmap_agg(bitmap_bit_position(user_id))) AS n
        |FROM ev_new_sql WHERE user_id BETWEEN 1 AND 100""".stripMargin).head()
    assert(r.getAs[collection.Seq[_]]("tk").size === 3)
    val exact = spark.table("ev_new_sql")
      .filter($"user_id".between(1, 100)).select("user_id").distinct().count()
    assert(r.getLong(1) === exact)
    // int8 quantization round trip from SQL
    val d = spark.sql(
      """SELECT vec_dot_i8(vec_quantize_i8(array(0.5d, -0.5d), 100.0d),
        |                  vec_quantize_i8(array(0.5d, -0.5d), 100.0d)) AS d"""
        .stripMargin).head().getLong(0)
    assert(d === 50L * 50 + 50 * 50)
  }

  test("sketch-table re-aggregation: merged partials == direct global build, byte-identical") {
    val perType = events.groupBy("event_type")
      .agg(cms_agg($"user_id", 0.01, 0.99, 42).as("sk"),
        bloom_agg($"user_id", 1000L, 0.01).as("bf"))
    val merged = perType.agg(cms_merge_agg($"sk").as("sk"),
      bloom_merge_agg($"bf").as("bf")).head()
    val direct = events.agg(cms_agg($"user_id", 0.01, 0.99, 42).as("sk"),
      bloom_agg($"user_id", 1000L, 0.01).as("bf")).head()
    assert(java.util.Arrays.equals(
      merged.getAs[Array[Byte]]("sk"), direct.getAs[Array[Byte]]("sk")))
    assert(java.util.Arrays.equals(
      merged.getAs[Array[Byte]]("bf"), direct.getAs[Array[Byte]]("bf")))
  }

  test("merge aggs usable from SQL") {
    Tables.events(spark, GraftSpark.sf).createOrReplaceTempView("ev_merge_sql")
    val est = spark.sql(
      """SELECT cms_estimate(cms_merge_agg(sk), 3L) AS est FROM (
        |  SELECT event_type, cms_agg(user_id, 0.01d, 0.99d, 42) AS sk
        |  FROM ev_merge_sql GROUP BY event_type)""".stripMargin).head().getLong(0)
    val exact = spark.table("ev_merge_sql").filter($"user_id" === 3).count()
    assert(est >= exact)
  }

  test("round-6 estimators usable from SQL: cms_inner_product, bloom_ndv") {
    Tables.events(spark, GraftSpark.sf).createOrReplaceTempView("ev_est_sql")
    val ip = spark.sql(
      """SELECT cms_inner_product(a, b) AS ip FROM
        |  (SELECT cms_agg(user_id, 0.01d, 0.99d, 42) AS a FROM ev_est_sql),
        |  (SELECT cms_agg(user_id, 0.01d, 0.99d, 42) AS b FROM ev_est_sql)
        |""".stripMargin).head().getLong(0)
    // self inner product >= sum of squared frequencies
    val sumSq = Tables.events(spark, GraftSpark.sf)
      .groupBy("user_id").count()
      .agg(sum($"count" * $"count")).head().getLong(0)
    assert(ip >= sumSq)
    val ndv = spark.sql(
      """SELECT bloom_ndv(bloom_agg(user_id, 5000L, 0.03d)) AS e
        |FROM ev_est_sql""".stripMargin).head().getDouble(0)
    val exact = Tables.events(spark, GraftSpark.sf)
      .select("user_id").distinct().count()
    assert(math.abs(ndv - exact) <= math.max(3.0, 0.03 * exact))
  }

  test("null handling: null inputs are skipped in builds, null probes stay null") {
    val withNulls = events.select(
      when($"user_id" % 7 === 0, lit(null)).otherwise($"user_id").as("uid"))
    val nNonNull = withNulls.filter($"uid".isNotNull).count()
    val sk = withNulls.agg(cms_agg($"uid", 0.01, 0.99, 42).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    assert(CountMinSketch.readFrom(sk).totalCount() === nNonNull)
    val probes = spark.range(1).select(
      cms_estimate(lit(sk), lit(null).cast("long")).as("ce"),
      bloom_might_contain(lit(null).cast("binary"), lit(1L)).as("bm"))
      .head()
    assert(probes.isNullAt(0) && probes.isNullAt(1))
  }

  test("sketch bytes are pinned: builds and merges over a fixed input") {
    def sha(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    val keys = spark.range(0, 20000, 1, 4).select(($"id" * 7919 % 5003).as("k"),
      concat(lit("u"), ($"id" % 997).cast("string")).as("s"))
    val built = keys.agg(bloom_agg($"k", 5000L, 0.01), cms_agg($"s", 0.01, 0.99, 42)).head()
    val merged = keys.groupBy($"k" % 5)
      .agg(bloom_agg($"s", 1000L, 0.01).as("bf"), cms_agg($"k", 0.01, 0.99, 42).as("cms"))
      .agg(bloom_merge_agg($"bf"), cms_merge_agg($"cms")).head()
    // one partition: a cuckoo table's layout depends on insertion order
    val cuckoo = spark.range(0, 3000, 1, 1)
      .agg(cuckoo_agg($"id" * 31, 1024), cuckoo_agg(concat(lit("c"), $"id".cast("string")), 2048))
      .head()
    val digests = Seq(built, merged, cuckoo).flatMap(r => (0 until r.length).map(i =>
      sha(r.getAs[Array[Byte]](i))))
    assert(digests === Seq(
      "8aed87a7bf062d22271b93bada55f58b93912995061ddc7e23e7514a1cc0c6a2", // bloom_agg
      "3fcc9d4d7ef19a122b26537a7c517597ecc9a558c5f7d97972b11ef939e52b60", // cms_agg
      "e82b4b9c1925ea90b1fd7b5f5e7e45ef06b8cfcb5b7f8285bbe99cc4b771ea2a", // bloom_merge_agg
      "99d6e585e0adfe6c7807adc45cbbbc617e72babf5eb80cb73f6413aa3d010ec2", // cms_merge_agg
      "7af0a88540794b18b79fc0ec136475dad36de6c336c4522b763550fbabba84f2", // cuckoo_agg, long keys
      "2689a6e2ed441e1d58395bf0e4395f9f98ce3795734889602b72529abc6567d5")) // cuckoo_agg, strings
  }

  // ---------------- direct library-level invariants ----------------

  test("util.sketch primitives honor their merge contracts directly") {
    val a = BloomFilter.create(1000, 0.01)
    val b = BloomFilter.create(1000, 0.01)
    (1L to 500L).foreach(a.putLong)
    (400L to 900L).foreach(b.putLong)
    a.mergeInPlace(b)
    assert((1L to 900L).forall(a.mightContainLong))

    val c1 = CountMinSketch.create(0.001, 0.99, 42)
    val c2 = CountMinSketch.create(0.001, 0.99, 42)
    (1L to 100L).foreach(c1.addLong)
    (50L to 150L).foreach(c2.addLong)
    c1.mergeInPlace(c2)
    assert(c1.totalCount() === 201L)
    assert(c1.estimateCount(60L) >= 2L)
  }

  test("bitmap_agg: byte-identical to the built-in bitmap_construct_agg") {
    val ev = Tables.events(spark, GraftSpark.sf)
      .select($"event_type", expr("bitmap_bucket_number(user_id)").as("bkt"),
        expr("bitmap_bit_position(user_id)").as("pos"))
    val ours = ev.groupBy("event_type", "bkt").agg(bitmap_agg($"pos").as("bm"))
      .orderBy("event_type", "bkt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]]("bm").toSeq))
    val builtin = ev.groupBy("event_type", "bkt")
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
      .orderBy("event_type", "bkt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]]("bm").toSeq))
    assert(ours.toSeq === builtin.toSeq)
  }

  test("topk_agg: k <= 0 fails at analysis, not execution") {
    val li = Tables.lineitem(spark, GraftSpark.sf).limit(10)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      li.groupBy("l_returnflag")
        .agg(topk_agg($"l_extendedprice", $"l_orderkey", 0).as("tk"))
        .collect()
    }
    assert(e.getMessage.contains("topk_agg k must be >= 1"))
  }

  test("topk_agg: partition-independent and equal to the window-rank answer") {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, GraftSpark.sf)
      .select($"l_returnflag", $"l_extendedprice",
        ($"l_orderkey" * 10 + $"l_linenumber").as("id"))
    def viaHeap(parts: Int) = li.repartition(parts)
      .groupBy("l_returnflag")
      .agg(topk_agg($"l_extendedprice", $"id", 5).as("tk"))
      .select($"l_returnflag", posexplode($"tk").as(Seq("p", "e")))
      .select($"l_returnflag", $"p", $"e.score", $"e.id")
      .orderBy("l_returnflag", "p")
    val one = viaHeap(1).collect().toSeq
    assert(one === viaHeap(64).collect().toSeq,
      "heap merge must be partitioning-independent")
    val w = Window.partitionBy("l_returnflag")
      .orderBy($"l_extendedprice".desc, $"id")
    val viaRank = li
      .withColumn("p", row_number().over(w) - 1).filter($"p" < 5)
      .select($"l_returnflag", $"p", $"l_extendedprice".as("score"), $"id")
      .orderBy("l_returnflag", "p")
    assert(one === viaRank.collect().toSeq,
      "bounded heaps must reproduce the full-sort window answer")
  }

  test("ddsketch buckets: the exact rank value lands inside the chosen bucket") {
    // the γ=2 log-bucket guarantee: the value at rank ⌈q·n⌉ of ⌊price⌋
    // lies in [2^(b−1), 2^b) for the bucket b the query picks — so the
    // midpoint estimate is within relative error (γ−1)/(γ+1) = 1/3
    val picked = graft.queries.SketchQueries
      .queries("q_ddsketch_quantiles")(spark, GraftSpark.sf)
      .collect().map(r => (r.getAs[Long]("rank"),
        r.getAs[Long]("lo_val"), r.getAs[Long]("hi_val")))
    val sorted = lineitem
      .select(floor($"l_extendedprice").cast("long").as("v"))
      .orderBy("v").collect().map(_.getLong(0))
    picked.foreach { case (rank, lo, hi) =>
      val v = sorted((rank - 1).toInt)
      assert(v >= lo && v <= hi,
        s"rank-$rank value $v escaped bucket [$lo, $hi]")
    }
  }
}
