package graft.queries

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}
import graft.streaming.StreamingJobs

/** The stateful gates' work-tree lifecycle: [[PipelineQueries.gateWork]]
  * names and sweeps the trees, [[PipelineQueries.withGateWork]] pins the
  * result and removes the tree and its registry table on every exit.
  */
class GateWorkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val sf = "/root/testdata/sf0.001"
  val tmp = new File(System.getProperty("java.io.tmpdir"))

  private def entries(prefix: String): Set[String] =
    Option(tmp.list()).map(_.filter(_.startsWith(prefix)).toSet)
      .getOrElse(Set.empty)

  private def tables(): Set[String] =
    spark.catalog.listTables().collect()
      .filterNot(_.isTemporary).map(_.name).toSet

  test("gateWork sweeps dead-pid trees, keeps live-pid and non-pid siblings") {
    val dir = s"sweep/sf-${System.nanoTime()}"
    val prefix = "graft-swp-" + dir.replace('/', '_') + ".p"
    val exited = new ProcessBuilder("true").start()
    exited.waitFor()
    val livePid = ProcessHandle.current().parent().get().pid()
    val dead = new File(tmp, prefix + exited.pid())
    val live = new File(tmp, prefix + livePid)
    val other = new File(tmp, prefix + "acked.p" + exited.pid())
    val own = new File(tmp, prefix + ProcessHandle.current().pid())
    Seq(dead, live, other, own).foreach(d => assert(new File(d, "x").mkdirs()))
    try {
      val work = PipelineQueries.gateWork(spark, "swp", dir)
      assert(work == own.getPath)
      assert(!own.exists(), "the returned tree is pre-deleted")
      assert(!dead.exists(), "a dead pid's tree is swept")
      assert(live.exists(), "a live pid's tree is left alone")
      assert(other.exists(), "a suffix that is not a pid is left alone")
    } finally Seq(dead, live, other, own)
      .foreach(org.apache.hadoop.fs.FileUtil.fullyDelete)
  }

  test("withGateWork: a failing body propagates and leaves no tree or table") {
    var work = ""
    val err = intercept[IllegalStateException] {
      PipelineQueries.withGateWork(spark, "gwfail", sf) { w =>
        work = w
        spark.range(3).write.option("path", s"$w/reg")
          .saveAsTable(StreamingJobs.registryTable(w))
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assert(err.getSuppressed.isEmpty)
    assert(work.nonEmpty && !new File(work).exists())
    assert(!spark.catalog.tableExists(StreamingJobs.registryTable(work)))
  }

  test("withGateWork: the pinned result reads after its tree is gone") {
    var work = ""
    val out = PipelineQueries.withGateWork(spark, "gwpin", sf) { w =>
      work = w
      spark.range(10).write.parquet(s"$w/x")
      spark.read.parquet(s"$w/x")
    }
    assert(!new File(work).exists())
    assert(out.count() == 10)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
  }

  test("stateful gates leave no work tree and no catalog table behind") {
    val queries = SparkEntry.queries
    for (gate <- Seq("st07", "st08", "st10", "st12", "dd20", "mm07")) {
      val (name, run) = queries.find(_._1.startsWith(gate + "_")).get
      val treesBefore = entries(s"graft-$gate")
      val tablesBefore = tables()
      assert(run(spark, sf).count() > 0, name)
      assert(entries(s"graft-$gate") -- treesBefore == Set.empty,
        s"$name left a work tree in $tmp")
      assert(tables() -- tablesBefore == Set.empty,
        s"$name left a catalog table")
    }
  }
}
