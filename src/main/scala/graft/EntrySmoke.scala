package graft

/** Local replica of the driver's t1 smoke: `SparkEntry.entry` must
  * return >0 rows on sf0.001. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("local[4]", 4)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(20, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
