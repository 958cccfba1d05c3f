package graft

/** Dev smoke: what the driver's t1 check does — run the flagship entry
  * on sf0.001 and require rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    require(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
