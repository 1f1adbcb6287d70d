package graft

/** Plan inspection harness: prints the formatted physical plan of the
  * named queries (or all) so scan pushdown / broadcast / codegen spans
  * can be audited per the 100 TB design review.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("4", logLevel = "ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n======== $n ========")
      try SparkEntry.queries(n)(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
