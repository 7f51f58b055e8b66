package graft.tools


/** Dev-only: print schemas + a sample of the driver-generated testdata. */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Config.session()
    Seq("events", "customer", "supplier", "part", "region", "nation").foreach { t =>
      println(s"== $t")
      try {
        val df = spark.read.parquet(s"$dir/$t.parquet")
        df.printSchema()
        df.show(3, truncate = 60)
      } catch { case e: Throwable => println(s"FAILED: ${e.getMessage.take(500)}") }
    }
    spark.stop()
  }
}
