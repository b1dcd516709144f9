package graft

/** Mirrors the driver's t1 smoke: SparkEntry.entry rows > 0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build()
    val n = SparkEntry.entry(spark).count()
    println(s"[entry-smoke] rows=$n ok=${n > 0}")
    GraftSession.close(spark)
  }
}
