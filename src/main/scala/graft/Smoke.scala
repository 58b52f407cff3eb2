package graft

/** Local t1-gate analog: run SparkEntry.entry and print its row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("4")
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
