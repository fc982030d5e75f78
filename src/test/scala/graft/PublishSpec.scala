package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.regex.Pattern

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Publish
import graft.multimodal.Multimodal
import graft.operators.{Dedup, LogEtl, Similarity}
import graft.sources.S3AccessLog
import graft.streaming.StreamingJobs

class PublishSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def tmpDir(): String = SparkTestSession.tempDir("graft-publish").toString
  def f(local: String): String = FaultyFs.uri(local)
  lazy val fs = new Path(FaultyFs.Uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
  def read(local: String): Seq[String] = rows(spark.read.parquet(f(local)))

  /** Publish siblings anywhere under `root`. */
  def siblings(root: String): Seq[String] = {
    val it = Files.walk(Paths.get(root))
    try it.toArray.map(_.toString)
      .filter(_.split('/').last.matches("\\..*\\.(next|prev|commit)"))
      .toSeq
    finally it.close()
  }

  test("replace creates, then replaces; a stage that writes nothing fails; readers see pending") {
    val dir = tmpDir()
    val t = new Path(f(s"$dir/t"))
    def put(v: String)(p: Path): Unit = spark.range(1).selectExpr(s"'$v' as v")
      .write.parquet(p.toString)
    Publish.replace(fs, t)(put("a"))
    assert(read(s"$dir/t") == Seq("[a]"))
    Publish.replace(fs, t)(put("b"))
    assert(read(s"$dir/t") == Seq("[b]"))
    intercept[IllegalStateException](Publish.replace(fs, t)(_ => ()))
    assert(read(s"$dir/t") == Seq("[b]") && siblings(dir).isEmpty)
    // past the marker the target is missing: pending until recovered
    FaultyFs.failNth("rename", "/\\.t\\.next -> ")
    intercept[java.io.IOException](Publish.replace(fs, t)(put("c")))
    assert(!Files.exists(Paths.get(s"$dir/t")))
    assert(Publish.pending(fs, t) && Publish.leftovers(fs, t.getParent) == Seq(t))
    assert(Publish.recover(fs, t))
    assert(!Publish.pending(fs, t) && read(s"$dir/t") == Seq("[c]"))
    assert(siblings(dir).isEmpty && !Publish.recover(fs, t))
  }

  test("recover refuses to rename onto an existing directory") {
    val dir = tmpDir()
    val t = new Path(f(s"$dir/t"))
    for (d <- Seq("t", ".t.next", ".t.prev")) Files.createDirectories(Paths.get(dir, d))
    Files.createFile(Paths.get(dir, ".t.commit"))
    val e = intercept[java.io.IOException](Publish.recover(fs, t))
    assert(e.getMessage.contains("exists"), e.getMessage)
    for (d <- Seq("t", ".t.next", ".t.prev", ".t.commit"))
      assert(Files.exists(Paths.get(dir, d)), s"$d moved")
  }

  /** The crash points of one replace of a target named `n`; the first
    * two come before the commit marker.
    */
  def points(n: String): Seq[(String, String, String)] = {
    val q = Pattern.quote(n)
    Seq(
      ("a task write during stage", "create", s"/\\.$q\\.next/.*part-"),
      ("the marker create", "create", s"/\\.$q\\.commit$$"),
      ("the rename of the old copy aside", "rename", s"/$q -> .*/\\.$q\\.prev$$"),
      ("the rename of the new copy in", "rename", s"/\\.$q\\.next -> "),
      ("the delete of the old copy", "delete", s"/\\.$q\\.prev$$"),
      ("the delete of the marker", "delete", s"/\\.$q\\.commit$$"))
  }

  /** Wait until no task is running. A failed write job leaves its
    * other tasks running until they notice the kill; one of them can
    * then open its part file after the next fault is armed, take that
    * fault, and let the call meant to hit it succeed.
    */
  def quiesce(): Unit = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def running: Int = {
      org.apache.spark.sql.graft.bridge.drainListeners(sc)
      sc.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum
    }
    while (running > 0) {
      assert(System.nanoTime() < deadline, "tasks still running after 60 s")
      Thread.sleep(20)
    }
  }

  /** Drive one adopter through every crash point. `arrange` builds a
    * fresh work tree; `run` is the entry under test; `state` reads the
    * target back; `target` names it inside the tree.
    */
  def crashMatrix(arrange: () => String, target: String => String,
                  run: String => Unit, state: String => Seq[String]): Unit = {
    val want = { val w = arrange(); run(w); state(w) }
    val crashes = points(new Path(target("/w")).getName)
    for (((point, op, regex), i) <- crashes.zipWithIndex) {
      val w = arrange()
      val old = state(w)
      assert(old != want, "the entry changes nothing")
      FaultyFs.failNth(op, regex)
      intercept[Exception](run(w))
      quiesce()
      assert(!FaultyFs.reset(), s"$point: fault never fired")
      // the next call settles on its own; failing its own stage right
      // after that leaves the settled target to read
      FaultyFs.failNth("create", crashes.head._3)
      Try(run(w))
      quiesce()
      FaultyFs.reset()
      assert(state(w) == (if (i < 2) old else want), s"$point: settled state")
      run(w)
      assert(state(w) == want, s"$point: next call")
      assert(siblings(w).isEmpty, s"$point: left ${siblings(w)}")
    }
  }

  test("crash matrix: LogEtl.write keeps the old day or publishes the new one") {
    val day = LocalDate.of(2024, 7, 30)
    def input(w: String, tag: String): String = {
      val dir = Paths.get(w, "in", tag)
      Files.createDirectories(dir)
      Files.write(dir.resolve("f.log"), (0 until 40).map(i =>
        S3AccessLog.renderLine(RenderFixtures.baseFields
          .updated("reqid", s"$tag-$i")
          .updated("time", f"[30/Jul/2024:${i % 24}%02d:00:00 +0000]")))
        .mkString("\n").getBytes)
      dir.toString
    }
    def dest(w: String) = LogEtl.destPath(w + "/out", "b", day, hiveLayout = false)
    crashMatrix(
      () => {
        val w = tmpDir()
        LogEtl.compact(spark, input(w, "v1"), f(dest(w)), numOutputFiles = 2)
        input(w, "v2")
        w
      },
      dest,
      w => LogEtl.compact(spark, s"$w/in/v2", f(dest(w)), numOutputFiles = 2),
      w => read(dest(w)))
  }

  test("crash matrix: deleteFromHammingRegistry") {
    val hashes = Multimodal.dHashes(Multimodal.syntheticAssets(spark, 40)).toDF()
      .localCheckpoint()
    def table(w: String) = "graft_t_pub_" + w.split('/').last.replaceAll("\\W", "_")
    val trees = scala.collection.mutable.Buffer[String]()
    try crashMatrix(
      () => {
        val w = tmpDir()
        trees += w
        Dedup.writeHammingRegistry(hashes, "asset_id", "dhash", table(w),
          f(s"$w/reg"), numBuckets = 4)
        w
      },
      w => s"$w/reg",
      w => Dedup.deleteFromHammingRegistry(spark, table(w), f(s"$w/reg"),
        spark.range(0, 40, 6).select($"id".as("asset_id")), numBuckets = 4),
      w => read(s"$w/reg"))
    finally trees.foreach(w => spark.sql(s"DROP TABLE IF EXISTS ${table(w)}"))
  }

  test("crash matrix: registry fold (compactRegistry), settled by the next fold") {
    val b0 = Seq((2L, "alpha beta gamma delta epsilon"),
      (4L, "one two three four five")).toDF("doc_id", "text")
    val b1 = Seq((3L, "something else entirely here now")).toDF("doc_id", "text")
    val trees = scala.collection.mutable.Buffer[String]()
    try crashMatrix(
      () => {
        val w = tmpDir()
        trees += w
        StreamingJobs.screenBatch(b0, 0L, f(w), 4)
        StreamingJobs.screenBatch(b1, 1L, f(w), 4)
        w
      },
      w => s"$w/registry",
      w => StreamingJobs.compactRegistry(spark, f(w)),
      w => read(s"$w/registry"))
    finally trees.foreach(w =>
      spark.sql(s"DROP TABLE IF EXISTS ${StreamingJobs.registryTable(f(w))}"))
  }

  test("crash matrix: deltaLogDeleteIds, per batch") {
    val v = Array.tabulate(8)(_.toFloat)
    crashMatrix(
      () => {
        val w = tmpDir()
        Seq((1L, v), (2L, v.map(-_))).toDF("vec_id", "embedding")
          .write.parquet(s"$w/delta/batch=0")
        Seq((3L, v.map(_ * 2))).toDF("vec_id", "embedding")
          .write.parquet(s"$w/delta/batch=1")
        w
      },
      w => s"$w/delta/batch=0",
      w => StreamingJobs.deltaLogDeleteIds(spark, f(w), Seq(2L).toDF("vec_id")),
      w => read(s"$w/delta/batch=0"))
  }

  test("crash matrix: ivfAbsorbLog, with the parked batches settled from the manifest") {
    val corpus = (1 to 12).map(i =>
        (i.toLong, Array.tabulate(8)(j => (i * (j + 1)).toFloat)))
      .toDF("vec_id", "embedding")
    crashMatrix(
      () => {
        val w = tmpDir()
        Similarity.ivfBuild(corpus, nlist = 2).save(f(s"$w/idx"))
        Seq((100L, Array.tabulate(8)(_ + 0.5f))).toDF("vec_id", "embedding")
          .write.parquet(s"$w/delta/batch=0")
        Seq((101L, Array.tabulate(8)(j => -(j + 1f)))).toDF("vec_id", "embedding")
          .write.parquet(s"$w/delta/batch=1")
        w
      },
      w => s"$w/idx",
      w => StreamingJobs.ivfAbsorbLog(spark, f(s"$w/idx"), f(w)),
      // the index, and the log once settled: every vector in exactly one
      w => read(s"$w/idx/cells") ++
        Try(rows(StreamingJobs.deltaLog(spark, f(w)))).getOrElse(Seq("<refused>")))
  }

  // two disjoint corpora: the old and the new index serve different ids
  lazy val corpora = Seq(0, 100).map(off => (1 to 12).map(i =>
      (i.toLong + off, Array.tabulate(8)(j => (i * (j + 1) + off * j).toFloat)))
    .toDF("vec_id", "embedding").localCheckpoint())
  lazy val queries = corpora.head.filter($"vec_id" <= 3)
  lazy val ivf = corpora.map(Similarity.ivfBuild(_, nlist = 2))
  lazy val ivfPq = corpora.map(Similarity.ivfPqBuild(_, nlist = 2))
  def idx(w: String): String = f(s"$w/idx")

  /** Crash matrix of a save into the index directory `w/idx`: `before`
    * and version 0 are arranged, version 1 is the entry under test, and
    * `load` must read and serve either version.
    */
  def saveMatrix(target: String, save: (Int, String) => Unit,
                 before: String => Unit = _ => ())(load: String => DataFrame): Unit =
    crashMatrix(
      () => { val w = tmpDir(); before(idx(w)); save(0, idx(w)); w },
      w => s"$w/$target",
      w => save(1, idx(w)),
      w => rows(load(idx(w))))

  test("crash matrix: IvfIndex.save keeps the old index or publishes the new one") {
    saveMatrix("idx", (v, d) => ivf(v).save(d)) { d =>
      Similarity.ivfSearch(queries, Similarity.ivfLoad(spark, d), 3, nprobe = 2)
    }
  }

  test("crash matrix: IvfPqIndex.save keeps the old index or publishes the new one") {
    val rerank = corpora(0).unionByName(corpora(1))
    saveMatrix("idx", (v, d) => ivfPq(v).save(d)) { d =>
      Similarity.ivfPqSearch(queries, Similarity.ivfPqLoad(spark, d), rerank, 3,
        nprobe = 2)
    }
  }

  test("crash matrix: ivfSaveStats over an index's existing cellstats") {
    saveMatrix("idx/cellstats", (v, d) => Similarity.ivfSaveStats(ivf(v), d),
      d => ivf(0).save(d)) { d =>
      Similarity.ivfLoadStats(spark, d)
    }
  }

  test("crash matrix: ivfPqSaveStats over an index's existing cellstats") {
    saveMatrix("idx/cellstats",
      (v, d) => Similarity.ivfPqSaveStats(ivfPq(v), corpora(v), d),
      d => ivfPq(0).save(d)) { d =>
      Similarity.ivfLoadStats(spark, d)
    }
  }
}
