package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VecKernels._
import graft.KernelTable.Twins

/** Equivalence pins for the compiled vector kernels: each kernel must
  * reproduce its twin in [[KernelTable]] BIT-IDENTICALLY — same IEEE
  * fold order, same decimal promotion and overflow-null, same null
  * poisoning — on adversarial inputs (nulls, length mismatches, empties,
  * float elements, overflow magnitudes). A kernel that diverges on any
  * row would silently change declared-query results, so these pins are
  * the safety net under every call-site swap. Where a twin is a built-in,
  * it is also pinned to the interpreted fold it stands for.
  */
class VecKernelsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(20241207L)

  private def randVec(n: Int, nullEvery: Int = 0): Seq[java.lang.Double] =
    (0 until n).map { i =>
      if (nullEvery > 0 && i % nullEvery == nullEvery - 1) null
      else java.lang.Double.valueOf((rnd.nextDouble() - 0.5) * 2e3)
    }

  /** Pair fixtures: equal-length clean, mismatched lengths, embedded
    * nulls, empty arrays, whole-side null, large magnitudes.
    */
  private def pairRows: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = {
    val clean = (1 to 30).map(_ => (randVec(64), randVec(64)))
    val short = (1 to 10).map(n => (randVec(n), randVec(n)))
    val mism = Seq((randVec(5), randVec(7)), (randVec(7), randVec(5)),
      (randVec(0), randVec(3)), (randVec(3), randVec(0)))
    val nulls = Seq((randVec(8, 3), randVec(8)), (randVec(8), randVec(8, 4)),
      (randVec(8, 2), randVec(8, 2)))
    val empty = Seq((Seq.empty[java.lang.Double], Seq.empty[java.lang.Double]))
    val sideNull = Seq((null, randVec(4)), (randVec(4), null),
      (null, null)).asInstanceOf[Seq[(Seq[java.lang.Double], Seq[java.lang.Double])]]
    val big = Seq((Seq[java.lang.Double](9.999999e5, -9.999999e5, 1.5e6),
      Seq[java.lang.Double](9.999999e5, 9.999999e5, 2.0)))
    clean ++ short ++ mism ++ nulls ++ empty ++ sideNull ++ big
  }

  private def assertSame(df: org.apache.spark.sql.DataFrame,
                         kernel: Column, hof: Column, label: String): Unit = {
    val rows = df.select(kernel.as("k"), hof.as("h")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"$label row $i nullness: kernel=${r.get(0)} hof=${r.get(1)}")
      if (!r.isNullAt(0))
        assert(r.get(0) == r.get(1),
          s"$label row $i value: kernel=${r.get(0)} hof=${r.get(1)}")
    }
  }

  private def dfD = pairRows.toDF("a", "b")

  /** pairRows minus the >1e6 magnitudes: under ANSI (the Spark 4
    * default this suite runs with) those overflow the DECIMAL(12,6)
    * element cast and THROW on both formulations — exercised by the
    * dedicated overflow test below, not by value comparison.
    */
  private def dfDInRange = pairRows.filter { case (a, b) =>
    Seq(a, b).forall(v => v == null ||
      v.forall(x => x == null || math.abs(x) < 1e6))
  }.toDF("a", "b")

  test("every VecKernels Column factory has a row in the kernel table") {
    val factories = graft.functions.VecKernels.getClass.getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) &&
        m.getReturnType == classOf[Column])
      .map(_.getName).toSet
    assert(factories.nonEmpty)
    val missing = factories -- KernelTable.rows.map(_.name)
    assert(missing.isEmpty, s"factories without a kernel-table row (twin + " +
      s"bench): ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("vec_dot_d ≡ aggregate(zip_with(*, *), 0.0, +) incl. null poisoning") {
    assertSame(dfD, vec_dot_d(col("a"), col("b")),
      Twins.dotD(col("a"), col("b")), "dotD")
  }

  test("vec_dot_d on float arrays ≡ HOF over cast(double)") {
    val fdf = pairRows.map { case (a, b) =>
      (if (a == null) null else a.map(x => if (x == null) null
        else java.lang.Float.valueOf(x.floatValue())),
       if (b == null) null else b.map(x => if (x == null) null
        else java.lang.Float.valueOf(x.floatValue())))
    }.toDF("a", "b")
    def dbl(c: Column) = transform(c, x => x.cast(DoubleType))
    assertSame(fdf, vec_dot_d(col("a"), col("b")),
      Twins.dotD(dbl(col("a")), dbl(col("b"))), "dotD/float")
  }

  test("vec_sqdist_d ≡ aggregate(zip_with((x-y)²), 0.0, +)") {
    assertSame(dfD, vec_sqdist_d(col("a"), col("b")),
      Twins.sqDistD(col("a"), col("b")), "sqDistD")
  }

  test("vec_sub_d ≡ zip_with(x - y) incl. padded/mismatched tails") {
    assertSame(dfD, vec_sub_d(col("a"), col("b")),
      Twins.subD(col("a"), col("b")), "subD")
  }

  test("vec_dot_dec ≡ decimal fold (double inputs, fused dec6 cast)") {
    assertSame(dfDInRange, vec_dot_dec(col("a"), col("b")),
      Twins.dotDec(Twins.dec6(col("a")), Twins.dec6(col("b"))), "dotDec/double")
  }

  test("vec_dot_dec ≡ decimal fold (pre-cast decimal(12,6) arrays)") {
    val ddf = dfDInRange.select(Twins.dec6(col("a")).as("a"), Twins.dec6(col("b")).as("b"))
    assertSame(ddf, vec_dot_dec(col("a"), col("b")),
      Twins.dotDec(col("a"), col("b")), "dotDec/decimal")
  }

  test("vec_sqdist_dec ≡ decimal (a-b)² fold (both input forms)") {
    assertSame(dfDInRange, vec_sqdist_dec(col("a"), col("b")),
      Twins.sqDistDec(Twins.dec6(col("a")), Twins.dec6(col("b"))), "sqDistDec/double")
    val ddf = dfDInRange.select(Twins.dec6(col("a")).as("a"), Twins.dec6(col("b")).as("b"))
    assertSame(ddf, vec_sqdist_dec(col("a"), col("b")),
      Twins.sqDistDec(col("a"), col("b")), "sqDistDec/decimal")
  }

  test("vec_dot_dec: ANSI element-cast overflow throws on both formulations") {
    val df = Seq((Seq[java.lang.Double](1.5e6), Seq[java.lang.Double](2.0)))
      .toDF("a", "b")
    val hof = Twins.dotDec(Twins.dec6(col("a")), Twins.dec6(col("b")))
    assertThrows[Exception](df.select(hof).collect())
    assertThrows[Exception](df.select(vec_dot_dec(col("a"), col("b"))).collect())
  }

  test("vec_dot_l ≡ aggregate(zip_with(*), 0L, +) with long wrap") {
    val rows = (1 to 20).map { _ =>
      val n = 1 + rnd.nextInt(64)
      ((0 until n).map(_ => java.lang.Long.valueOf(rnd.nextInt(255) - 127L)),
       (0 until n).map(_ => java.lang.Long.valueOf(rnd.nextInt(255) - 127L)))
    } ++ Seq((Seq[java.lang.Long](1L, null), Seq[java.lang.Long](2L, 3L)),
      (Seq[java.lang.Long](1L), Seq[java.lang.Long](1L, 2L)))
    val df = rows.toDF("a", "b")
    val hof = Twins.dotL(col("a"), col("b"))
    assertSame(df, vec_dot_l(col("a"), col("b")), hof, "dotL")
    // ANSI long-multiply overflow throws on both formulations
    val odf = Seq((Seq[java.lang.Long](Long.MaxValue, 3L),
      Seq[java.lang.Long](2L, 5L))).toDF("a", "b")
    assertThrows[Exception](odf.select(hof).collect())
    assertThrows[Exception](odf.select(vec_dot_l(col("a"), col("b"))).collect())
  }

  test("simhash_vote ≡ nested per-bit majority fold (nulls vote -1)") {
    val rows = (1 to 25).map { _ =>
      val n = 1 + rnd.nextInt(120)
      (0 until n).map(_ => java.lang.Long.valueOf(rnd.nextLong()))
    } ++ Seq(Seq[java.lang.Long](), Seq[java.lang.Long](null, 5L, null),
      Seq[java.lang.Long](-1L), Seq[java.lang.Long](0L))
    val df = rows.toDF("hs")
    assertSame(df, simhash_vote(col("hs")), Twins.simHashVote(col("hs")),
      "simHashVote")
  }

  test("sig_agree ≡ size(filter(zip_with(===), identity)) incl. size(null) = -1") {
    val rows = (1 to 25).map { _ =>
      val n = 1 + rnd.nextInt(32)
      val a = (0 until n).map(_ => java.lang.Long.valueOf(rnd.nextInt(4).toLong))
      val b = (0 until n).map(i =>
        if (rnd.nextBoolean()) a(i) else java.lang.Long.valueOf(rnd.nextInt(4).toLong))
      (a, b)
    } ++ Seq((Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, null, 3L)),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L, 2L, 3L)),
      (null, Seq[java.lang.Long](1L)),
      (Seq[java.lang.Long](1L), null))
      .asInstanceOf[Seq[(Seq[java.lang.Long], Seq[java.lang.Long])]]
    val df = rows.toDF("a", "b")
    assertSame(df, sig_agree(col("a"), col("b")),
      Twins.sigAgree(col("a"), col("b")), "sigAgree")
  }

  test("lsh_sigs ≡ lshTables' per-table xxhash64 hyperplane signatures") {
    val (bits, tables) = (4, 16)
    val rows = (1 to 20).map(_ => randVec(64)) ++
      (1 to 5).map(_ => randVec(1 + rnd.nextInt(16))) ++
      Seq(randVec(8, 3), Seq.empty[java.lang.Double], null)
    val df = rows.toDF("v")
    assertSame(df, lsh_sigs(col("v"), bits, tables),
      Twins.lshSigs(col("v"), bits, tables), "lshSigs")
  }

  test("word_ngrams ≡ array_distinct(transform(sequence, concat_ws(slice)))") {
    val words = Seq("the", "quick", "brown", "fox", "the", "quick", "brown",
      "dog", "a", "b")
    val rows = (1 to 30).map { _ =>
      val len = 3 + rnd.nextInt(40)
      (0 until len).map(_ => words(rnd.nextInt(words.length)))
    }.map(_.map(w => w: String)) ++
      Seq(Seq("a", "b", "c"), Seq("x", "x", "x", "x"))
    val nullRows = Seq(Seq[String]("a", null, "c", "d"))
    for (n <- Seq(3, 5)) {
      val df = (rows ++ nullRows).filter(_.length >= n).toDF("w")
      assertSame(df, word_ngrams(col("w"), n), Twins.wordNgrams(col("w"), n),
        s"wordNgrams/n=$n")
    }
  }

  test("id_pairs ≡ flatten(transform(ids, a => transform(filter(b > a), struct)))") {
    val rows = (1 to 25).map { _ =>
      val n = 1 + rnd.nextInt(20)
      (0 until n).map(_ => java.lang.Long.valueOf(rnd.nextInt(30).toLong))
    } ++ Seq(Seq[java.lang.Long](), Seq[java.lang.Long](5L),
      Seq[java.lang.Long](3L, null, 7L, 1L))
    val df = rows.toDF("ids")
    assertSame(df, id_pairs(col("ids")), Twins.idPairs(col("ids")), "idPairs")
  }

  test("Similarity.dec6 (array casts) ≡ transform(cast(double).cast(decimal(12,6)))") {
    // the built-in that replaced the to_dec6 kernel, pinned to the
    // interpreted fold the kernel was pinned to
    val df = dfDInRange.select(col("a"))
    val hof = transform(col("a"), x => x.cast(DoubleType).cast(DecimalType(12, 6)))
    assertSame(df, Twins.dec6(col("a")), hof, "dec6")
  }

  test("hplane_projs ≡ the centered-sketch decimal projection folds") {
    val bits = 8
    val rows = (1 to 20).map(_ => randVec(64)) ++
      (1 to 5).map(_ => randVec(1 + rnd.nextInt(16))) ++
      Seq(randVec(8, 3), Seq.empty[java.lang.Double])
    // kernel over the RAW double array (fused dec6 cast) must equal the
    // folds over the decimal(12,6) cast
    assertSame(rows.toDF("v"), hplane_projs(col("v"), bits),
      Twins.hplaneProjs(col("v"), bits), "hplaneProjs")
  }

  test("max_run ≡ the sorted-token run fold (incl. empty-string tokens)") {
    val words = Seq("a", "b", "c", "", "dd", "a", "a", "b")
    val rows = (1 to 30).map { _ =>
      val len = rnd.nextInt(60)
      (0 until len).map(_ => words(rnd.nextInt(words.length)))
    } ++ Seq(Seq(""), Seq("", ""), Seq[String]())
    val df = rows.toDF("t").select(array_sort(col("t")).as("s"))
    assertSame(df, max_run(col("s")), Twins.maxRun(col("s")), "maxRun")
  }

  test("winnow_fps ≡ md5-gram + window-min + distinct HOF pipeline") {
    val words = Seq("the", "quick", "brown", "fox", "dog", "a")
    val (k, w) = (3, 4)
    val rows = (1 to 30).map { _ =>
      val len = rnd.nextInt(40)
      (0 until len).map(_ => words(rnd.nextInt(words.length)))
    } ++ Seq(Seq("a", "b"), Seq("a", "b", "c"), Seq[String]())
    val df = rows.toDF("t")
    // the HOF pipeline only defines fingerprints for docs WITH grams
    // (the operator filters size(_grams) > 0 first); compare there and
    // pin the kernel's empty-case separately
    val withGrams = df.filter(size(Twins.winnowGrams(col("t"), k)) > 0)
    assertSame(withGrams, winnow_fps(col("t"), k, w),
      Twins.winnowFps(col("t"), k, w), "winnowFps")
    val empty = df.filter(size(col("t")) < k)
      .select(winnow_fps(col("t"), k, w).as("f")).collect()
    empty.foreach(r => assert(r.getSeq[String](0).isEmpty))
  }

  test("nearest_code_l2 ≡ the argmin when-fold over struct arrays") {
    // codes arrays of (code asc, 4-dim cvec); vectors 4-dim; include a
    // width-mismatched cvec (null distance) first and midway
    val mk = (codes: Seq[(Long, Seq[java.lang.Double])]) => codes
    val rows = (1 to 20).map { _ =>
      val nc = 1 + rnd.nextInt(32)
      (mk((0 until nc).map(c => (c.toLong, randVec(4)))), randVec(4))
    } ++ Seq(
      (mk(Seq((0L, randVec(3)), (1L, randVec(4)), (2L, randVec(4)))), randVec(4)),
      (mk(Seq((5L, randVec(4)), (9L, randVec(3)))), randVec(4)),
      (mk(Seq.empty), randVec(4)))
    val df = rows.toDF("codes", "v")
      .select(transform(col("codes"),
        s => struct(s.getField("_1").as("_code"), s.getField("_2").as("cvec")))
        .as("codes"), col("v"))
    assertSame(df, nearest_code_l2(col("codes"), col("v")),
      Twins.nearestCodeL2(col("codes"), col("v")), "nearestCodeL2")
  }

  // ---------- r21 kernels ----------

  test("hamming_dist ≡ aggregate(zip_with(bit_count(xor)), 0L, +)") {
    val rows = (1 to 25).map { _ =>
      val n = 1 + rnd.nextInt(8)
      ((0 until n).map(_ => java.lang.Long.valueOf(rnd.nextLong())),
        (0 until n).map(_ => java.lang.Long.valueOf(rnd.nextLong())))
    } ++ Seq(
      (Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, 2L, 3L)),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L, 2L, 3L)),
      (Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]),
      (null, Seq[java.lang.Long](1L)),
      (Seq[java.lang.Long](1L), null))
      .asInstanceOf[Seq[(Seq[java.lang.Long], Seq[java.lang.Long])]]
    val df = rows.toDF("a", "b")
    assertSame(df, hamming_dist(col("a"), col("b")),
      Twins.hammingDist(col("a"), col("b")), "hammingDist")
  }

  test("binary_code ≡ the transform/aggregate sign-bit packing chain") {
    // lengths straddling the 64-dim word boundary, null elements,
    // exact zeros (strictly-positive test), empty and null vectors
    val rows = (1 to 20).map { _ =>
      randVec(1 + rnd.nextInt(140))
    } ++ Seq(randVec(64), randVec(65), randVec(128), randVec(129),
      randVec(20, 3), Seq[java.lang.Double](0.0, -0.0, 1.0, -1.0),
      Seq.empty[java.lang.Double], null)
    for ((df, label) <- Seq(
      (rows.toDF("v"), "double"),
      (rows.map(r => if (r == null) null else r.map(x =>
        if (x == null) null else java.lang.Float.valueOf(x.floatValue())))
        .toDF("v"), "float"))) {
      assertSame(df, binary_code(col("v")), Twins.binaryCode(col("v")),
        s"binaryCode/$label")
    }
  }

  test("Similarity.dbl (array cast) ≡ transform(cast(double)) over float/long/double") {
    // the built-in that replaced the to_double kernel, pinned to the
    // interpreted fold the kernel was pinned to
    val base = (1 to 20).map(_ => randVec(1 + rnd.nextInt(32))) ++
      Seq(randVec(8, 3), Seq.empty[java.lang.Double], null)
    def hof = transform(col("v"), x => x.cast(DoubleType))
    val fl = base.map(r => if (r == null) null else r.map(x =>
      if (x == null) null else java.lang.Float.valueOf(x.floatValue())))
    val lg = base.map(r => if (r == null) null else r.map(x =>
      if (x == null) null else java.lang.Long.valueOf(x.longValue())))
    for ((df, label) <- Seq((base.toDF("v"), "double"), (fl.toDF("v"), "float"),
                            (lg.toDF("v"), "long")))
      assertSame(df, graft.operators.Similarity.dbl(col("v")), hof, s"dbl/$label")
  }

  test("word_ngrams_all ≡ transform(sequence, concat_ws(slice)) in order") {
    val words = Seq("the", "quick", "brown", "fox", "the", "quick")
    val rows = (1 to 30).map { _ =>
      val len = 3 + rnd.nextInt(40)
      (0 until len).map(_ => words(rnd.nextInt(words.length)): String)
    } ++ Seq(Seq("a", "b", "c"), Seq("x", "x", "x", "x"),
      Seq[String]("a", null, "c", "d", "e"))
    for (n <- Seq(3, 5)) {
      val df = rows.filter(_.length >= n).toDF("w")
      assertSame(df, word_ngrams_all(col("w"), n), Twins.wordNgramsAll(col("w"), n),
        s"wordNgramsAll/n=$n")
    }
  }

  test("bigram_heads / bigram_pairs ≡ the when/transform struct chains") {
    val words = Seq("a", "bb", "ccc", "dd", "e")
    val rows = (1 to 30).map { _ =>
      val len = rnd.nextInt(12) // includes 0- and 1-token docs
      (0 until len).map(_ => words(rnd.nextInt(words.length)): String)
    } ++ Seq(Seq[String]("a", null, "c"), Seq[String](null, null),
      Seq.empty[String], null)
    val df = rows.toDF("t")
    val toks = col("t")
    val hofPairs =
      when(size(toks) >= 2, transform(sequence(lit(0), size(toks) - 2),
        i => struct(
          element_at(toks, i + 1).as("w1"),
          element_at(toks, i + 2).as("w2"))))
        .otherwise(array().cast(ArrayType(StructType(Seq(
          StructField("w1", StringType), StructField("w2", StringType))))))
    assertSame(df, bigram_heads(toks), Twins.bigramHeads(toks), "bigramHeads")
    assertSame(df, bigram_pairs(toks), Twins.bigramPairs(toks), "bigramPairs")
    assertSame(df, Twins.bigramPairs(toks), hofPairs, "bigramPairs/twin")
  }
}
