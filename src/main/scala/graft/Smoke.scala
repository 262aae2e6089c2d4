package graft

/** Dev smoke runner: executes SparkEntry.entry (the driver's rows>0
  * smoke check) and prints the row count + first rows.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Graft.localSession(4)
    val df = SparkEntry.entry(spark)
    println(s"[smoke] entry rows=${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
