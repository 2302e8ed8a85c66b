package graft

/** Driver t1 probe: `SparkEntry.entry(spark).count()` must be > 0 on
  * sf0.001. Exists so the verify skill's entry smoke is one runMain,
  * not a throwaway source file. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_SMOKE rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
