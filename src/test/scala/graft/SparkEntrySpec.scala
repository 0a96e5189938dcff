package graft

/** Smoke: the driver contract holds — entry() yields rows, every declared
  * query runs at the smallest SF, and every query has oracle SQL (or is
  * knowingly rows-only). */
class SparkEntrySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and returns a non-empty schema at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      assert(df.schema.nonEmpty, name)
      df.count() // forces execution
    }
  }

  test("q91_jdbc_source repeats in one JVM and leaves its Derby " +
       "database whole on disk") {
    val q91 = SparkEntry.queries("q91_jdbc_source")
    val runs = (1 to 3).map(_ => q91(spark, dir).collect().toSeq)
    assert(runs.head.nonEmpty && runs.distinct.size == 1, runs)
    // a run that deleted the files of a still-booted database wrote its
    // table into the booted instance only: shut down, it does not reboot
    val url = s"jdbc:derby:${SparkEntry.fixtureDir("derby_orders", dir)}"
    val down = intercept[java.sql.SQLException](
      java.sql.DriverManager.getConnection(s"$url;shutdown=true"))
    assert(down.getSQLState == "08006", down)
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM orders_jdbc")
      assert(rs.next() && rs.getLong(1) > 0)
    } finally c.close()
  }

  test("oracle coverage: every oracleSql key is a declared query") {
    val undeclared = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(undeclared.isEmpty, s"oracleSql without query: $undeclared")
  }
}
