package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * CBO join reorder (q_cbo_reorder, VERDICT r9 #4): ANALYZE'd column
 * stats must actually CHANGE the optimizer's join order, and the
 * reordering must be semantics-preserving (identical results with CBO
 * on and off).
 */
class CboReorderSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  private val sf = GraftSpark.sf

  test("stats flip the join order; results identical under both plans") {
    // run the contract query once: builds + analyzes the catalog tables
    // and returns the flag computed from the two optimized plans
    val rows = SparkEntry.queries("q_cbo_reorder")(spark, sf).collect()
    val (li, ord, cust) = graft.queries.WarehouseQueries.ensureCboTables(spark, sf)
    assert(rows.length === 1)
    assert(rows(0).getBoolean(3),
      "CBO + column stats must change the join order on the chain query")

    // pin the actual shapes: without CBO the syntactic left-deep plan
    // joins the fact to orders FIRST; with CBO + stats the filtered
    // customer side must be joined before the fact is touched
    val sql =
      s"""SELECT c_mktsegment, count(*) AS n_rows,
        |  round(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(30,12))), 4) AS revenue
        |FROM $li JOIN $ord ON l_orderkey = o_orderkey
        |  JOIN $cust ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_mktsegment""".stripMargin
    def leafOrder(sess: org.apache.spark.sql.SparkSession): Seq[String] = {
      val plan = sess.sql(sql).queryExecution.optimizedPlan.toString
      Seq(li, ord, cust)
        .map(t => t -> plan.indexOf(s"spark_catalog.default.$t"))
        .sortBy(_._2).map(_._1)
    }
    val sOff = spark.newSession()
    sOff.conf.set("spark.sql.cbo.enabled", "false")
    val sOn = spark.newSession()
    sOn.conf.set("spark.sql.cbo.enabled", "true")
    sOn.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    val off = leafOrder(sOff)
    val on = leafOrder(sOn)
    info(s"leaf order off=$off on=$on")
    assert(off === Seq(li, ord, cust),
      s"without stats the syntactic left-deep order must hold: $off")
    assert(on !== off, s"CBO must reorder: $on")
    // the small filtered dimension must come BEFORE the fact under CBO
    assert(on.indexOf(cust) < on.indexOf(li),
      s"CBO should push the filtered customer join below the fact: $on")

    // semantics preserved: both sessions produce the identical row
    val rOff = sOff.sql(sql).collect().map(_.toString).toSeq
    val rOn = sOn.sql(sql).collect().map(_.toString).toSeq
    assert(rOff === rOn, s"reordering changed the result: $rOff vs $rOn")
  }
}
