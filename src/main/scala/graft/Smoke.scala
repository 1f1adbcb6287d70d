package graft

/** Local stand-in for the driver's t1 smoke: SparkEntry.entry rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("4")
    val n = SparkEntry.entry(spark).count()
    println(s"entry rows=$n " + (if (n > 0) "OK" else "EMPTY"))
    spark.stop()
  }
}
