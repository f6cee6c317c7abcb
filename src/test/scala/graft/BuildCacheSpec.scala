package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{CacheStats, RelationalQueries, SketchQueries, TextQueries,
  WarehouseQueries}

/** Fingerprinted build caches (ADVICE r9): every SessionCache entry keys
  * on the content fingerprint of the tables its build reads, so
  * regenerating the dataset at the SAME path within one session rebuilds
  * instead of silently serving a stale index; an untouched dataset must
  * still build only once. */
class BuildCacheSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark

  private def copyTree(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    } else {
      Files.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
    }

  /** A private copy of `tables` so touching it can't disturb other suites. */
  private def privateCopy(tables: String*): String = {
    val work = Files.createTempDirectory("graft_bcache").toFile
    tables.foreach { t =>
      copyTree(new java.io.File(GraftSpark.sf, t), new java.io.File(work, t))
    }
    work.getPath
  }

  /** Regenerate `d/table` in place from `df`: one parquet file written
    * over the old one, with a later mtime. */
  private def regenerate(d: String, table: String, df: DataFrame): Unit = {
    val tmp = Files.createTempDirectory("graft_regen").toString + "/out"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val target = Paths.get(d, table)
    Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
    target.toFile.setLastModified(System.currentTimeMillis() + 60000L)
  }

  test("same files -> one build; regenerated files -> rebuild") {
    val d = privateCopy("lineitem.parquet", "orders.parquet")

    val n0 = CacheStats.buildCount("bucketed_tables")
    RelationalQueries.ensureBucketedTables(spark, d)
    RelationalQueries.ensureBucketedTables(spark, d)
    assert(CacheStats.buildCount("bucketed_tables") - n0 === 1L,
      "unchanged dataset must build exactly once")

    // "regenerate" the dataset: bump the table file's mtime (the table
    // may be a single parquet file or a directory of part files)
    val ord = new java.io.File(d, "orders.parquet")
    val part =
      if (ord.isDirectory)
        ord.listFiles().filter(_.getName.endsWith(".parquet")).head
      else ord
    part.setLastModified(part.lastModified() + 60000L)
    RelationalQueries.ensureBucketedTables(spark, d)
    assert(CacheStats.buildCount("bucketed_tables") - n0 === 2L,
      "regenerated dataset (new mtime) must invalidate the cached build")

    // and the rebuilt key is itself stable
    RelationalQueries.ensureBucketedTables(spark, d)
    assert(CacheStats.buildCount("bucketed_tables") - n0 === 2L)
  }

  test("cbo_tables keys on every table it builds from: touched customer rebuilds") {
    val d = privateCopy("lineitem.parquet", "orders.parquet", "customer.parquet")
    val n0 = CacheStats.buildCount("cbo_tables")
    val names = WarehouseQueries.ensureCboTables(spark, d)
    WarehouseQueries.ensureCboTables(spark, d)
    assert(CacheStats.buildCount("cbo_tables") - n0 === 1L)
    val cust = new java.io.File(d, "customer.parquet")
    cust.setLastModified(cust.lastModified() + 60000L)
    val rebuilt = WarehouseQueries.ensureCboTables(spark, d)
    assert(CacheStats.buildCount("cbo_tables") - n0 === 2L,
      "a regenerated customer table must rebuild the CBO catalog tables")
    assert(rebuilt !== names, "new content must get new table names")
  }

  test("regenerated documents -> postings rebuilt with the new rows") {
    val d = privateCopy("documents.parquet")
    val n0 = CacheStats.buildCount("postings")
    def docIds = TextQueries.postingsShared(spark, d)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val before = docIds
    assert(CacheStats.buildCount("postings") - n0 === 1L)
    regenerate(d, "documents.parquet",
      spark.read.parquet(s"${GraftSpark.sf}/documents.parquet")
        .filter(col("doc_id") % 2 === 0))
    val after = docIds
    assert(CacheStats.buildCount("postings") - n0 === 2L,
      "a regenerated corpus must rebuild the postings index")
    assert(after.nonEmpty && after.forall(_ % 2 == 0),
      "the rebuilt index must hold the regenerated corpus")
    assert(after === before.filter(_ % 2 == 0))
  }

  test("regenerated events -> userCmsParams recomputed from the new users") {
    val d = privateCopy("events.parquet")
    val n0 = CacheStats.buildCount("user_cms_params")
    val p1 = SketchQueries.userCmsParams(spark, d)
    assert(SketchQueries.userCmsParams(spark, d) === p1)
    assert(CacheStats.buildCount("user_cms_params") - n0 === 1L)
    regenerate(d, "events.parquet",
      Tables.events(spark, GraftSpark.sf).filter(col("user_id") % 2 === 0))
    val ndv = Tables.events(spark, d).select("user_id").distinct().count()
    val p2 = SketchQueries.userCmsParams(spark, d)
    assert(CacheStats.buildCount("user_cms_params") - n0 === 2L,
      "regenerated events must recompute the CMS parameters")
    assert(p2._1 === math.max(1e-5, 1.0 / (16.0 * ndv)),
      s"eps must follow the regenerated user count $ndv: $p2 (was $p1)")
    assert(p2 !== p1)
  }

  test("two sessions on two datasets alternate q_bucketed_join: each gets its own rows") {
    val d1 = privateCopy("lineitem.parquet", "orders.parquet")
    val d2 = privateCopy("orders.parquet")
    spark.read.parquet(s"${GraftSpark.sf}/lineitem.parquet")
      .filter(col("l_orderkey") % 2 === 0)
      .write.parquet(s"$d2/lineitem.parquet")
    val (s1, s2) = (spark.newSession(), spark.newSession())
    def run(s: org.apache.spark.sql.SparkSession, d: String) =
      SparkEntry.queries("q_bucketed_join")(s, d).collect().map(_.toString).toSeq
    val r1 = run(s1, d1)
    val r2 = run(s2, d2)
    assert(r1 !== r2, "the two datasets must give different rows")
    assert(run(s1, d1) === r1, "session 1 must still read its own dataset's tables")
    assert(run(s2, d2) === r2, "session 2 must still read its own dataset's tables")
  }
}
