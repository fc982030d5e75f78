package graft.tools
/** Dev utility: print Spark's view of the testdata schemas. */
object SchemaDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder().getOrCreate()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    graft.Tables.all.foreach { t =>
      println(s"== $t")
      spark.read.parquet(s"$dir/$t.parquet").printSchema()
    }
    spark.stop()
  }
}
