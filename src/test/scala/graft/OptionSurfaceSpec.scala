package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.{universe => ru}

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the operator option sweep done: a defaulted public parameter
  * on an object in `graft.operators` (LogEtl / LogEtlMain excepted:
  * their defaults are the log ETL CLI), `graft.streaming` or
  * `graft.multimodal` stays only when a non-test caller sets it to a
  * non-default value; every other setting is a constant. The scan reads
  * the `name$default$N` getters the compiler emits on each object's
  * module class (bytecode-public, so `private[graft]` defs count too)
  * and names each parameter through Scala reflection. Adding or
  * removing a defaulted parameter without updating [[Allowed]] fails.
  */
class OptionSurfaceSpec extends AnyFunSuite {

  private val Packages =
    Seq("graft.operators", "graft.streaming", "graft.multimodal")

  private val Excluded =
    Set("graft.operators.LogEtl$", "graft.operators.LogEtlMain$")

  /** `Object.method.parameter` → the caller that sets it. Gate names
    * are `SparkEntry` queries (queries/PipelineQueries.scala unless
    * named); "forwarded" means a public operator passes its own
    * caller's value through.
    */
  private val Allowed: Map[String, String] = Map(
    "Dedup.jaccardPairs.maxPosting" -> "dd04, dd08, dd13, cu01 (Int.MaxValue)",
    "Dedup.writeBandedRegistry.numBuckets" -> "dd20 (16)",
    "Dedup.writeHammingRegistry.numBuckets" -> "mm07, mm08 (16)",
    "Dedup.deleteFromHammingRegistry.numBuckets" -> "mm08 (16)",
    "Dedup.dupSpans.maxPostings" -> "dd12 (8)",
    "Dedup.semanticDedup.twoLevelAssign" -> "dd15, dd18 (true)",
    "Funnel.stepTimes.deadlineHours" -> "forwarded by Funnel.counts",
    "Funnel.counts.deadlineHours" -> "ev21 (Some(24))",
    "Sampling.stratifiedHashSample.defaultNumerator" -> "sp02 (256)",
    "Skew.keySkewProfile.k" -> "q40, RelationalQueries.scala (10)",
    "Similarity.decideTwoLevel.atMost" -> "forwarded by ivfBuild, ivfPqBuild",
    "Similarity.cosineTopK.exact" ->
      "sim02, sim12, sim14, sim15, sim18, mmrTopK, perfbench cosine_topk",
    "Similarity.cosineRange.exact" -> "sim09",
    "Similarity.ivfPqTopK.nlist" -> "none: spec-only (two-level auto at 600)",
    "Similarity.ivfPqTopK.nprobe" -> "sim17 (12)",
    "Similarity.ivfPqTopK.twoLevelAssign" -> "sim17 (true)",
    "Similarity.ivfPqBuild.nlist" -> "forwarded by ivfPqTopK, ivfPqMaintain",
    "Similarity.ivfPqBuild.twoLevelAssign" ->
      "forwarded by ivfPqTopK, ivfPqMaintain",
    "Similarity.ivfPqSearch.nprobe" -> "forwarded by ivfPqTopK",
    "Similarity.ivfPqSearch.shortlist" -> "forwarded by ivfPqTopK",
    "Similarity.ivfPqSearchWithDelta.nprobe" -> "none: spec-only",
    "Similarity.ivfPqSearchWithDelta.shortlist" -> "none: spec-only",
    "Similarity.ivfTopK.nlist" -> "sim12, sim13, sim19 (16, the default)",
    "Similarity.ivfTopK.nprobe" -> "sim12 (6), sim13, sim19 (10)",
    "Similarity.ivfTopK.twoLevelAssign" -> "sim13 (true)",
    "Similarity.ivfTopK.pinProbeParallelism" -> "sim12 (true)",
    "Similarity.ivfBuild.nlist" -> "forwarded by ivfTopK, ivfMaintain",
    "Similarity.ivfBuild.twoLevelAssign" -> "forwarded by ivfTopK, ivfMaintain",
    "Similarity.ivfSearch.nprobe" -> "none: spec-only",
    "Similarity.ivfSearchWithDelta.nprobe" -> "none: spec-only",
    "Similarity.bqTopK.shortlist" -> "none: spec-only",
    "Similarity.bqSearch.shortlist" -> "forwarded by bqTopK",
    "Similarity.int8RerankTopK.shortlist" -> "sim11 (50, the default)",
    "StreamingJobs.nearDupScreenStream.compactEvery" -> "st11, st12 (1)",
    "StreamingJobs.screenBatch.compactEvery" ->
      "forwarded by nearDupScreenStream",
    "Multimodal.syntheticAssets.withPayload" -> "mm02 (false)",
    "Multimodal.syntheticAssets.offset" -> "mm07, mm08 (5000)",
    "Multimodal.makeAsset.withPayload" -> "forwarded by syntheticAssets",
    "Multimodal.extractFeatures.dim" -> "mm01 (16), PipelineDemo")

  /** Every top-level or nested object's module class in `pkg`, from the
    * class directories (or jars) on the test classpath.
    */
  private def moduleClasses(pkg: String): Seq[Class[_]] = {
    val loader = getClass.getClassLoader
    val dir = pkg.replace('.', '/')
    val names = loader.getResources(dir).asScala.toSeq.flatMap { url =>
      url.getProtocol match {
        case "file" =>
          Option(new java.io.File(url.toURI).list()).toSeq.flatten
        case "jar" =>
          val jar = url.openConnection()
            .asInstanceOf[java.net.JarURLConnection].getJarFile
          jar.entries().asScala.map(_.getName)
            .filter(n => n.startsWith(dir + "/") && !n.drop(dir.length + 1)
              .contains('/'))
            .map(_.drop(dir.length + 1)).toSeq
        case _ => Nil
      }
    }
    names.filter(n => n.endsWith("$.class") && !n.contains("$anon") &&
        !n.contains("$$"))
      .map(n => s"$pkg.${n.stripSuffix(".class")}").distinct
      .map(Class.forName(_, false, loader))
      .filter(c => scala.util.Try(c.getField("MODULE$")).isSuccess)
  }

  /** `Object.method.parameter` of every public default getter of `cls`. */
  private def defaultedParams(cls: Class[_]): Seq[String] = {
    val Getter = """([^$]+)\$default\$(\d+)""".r
    val sym = ru.runtimeMirror(cls.getClassLoader).classSymbol(cls)
    val obj = cls.getName.stripSuffix("$").split('.').last.replace('$', '.')
    cls.getDeclaredMethods.toSeq
      .filter(m => Modifier.isPublic(m.getModifiers))
      .collect { case m if Getter.matches(m.getName) =>
        val Getter(method, n) = m.getName
        val params = sym.info.decl(ru.TermName(method)).alternatives
          .map(_.asMethod.paramLists.flatten)
          .find(_.exists(_.asTerm.isParamWithDefault))
          .getOrElse(fail(s"$obj.$method: no overload has defaults"))
        s"$obj.$method.${params(n.toInt - 1).name}"
      }
  }

  test("every defaulted public operator parameter is listed with its setter") {
    val modules = Packages.flatMap(moduleClasses)
      .filterNot(c => Excluded(c.getName))
    val names = modules.map(_.getSimpleName).toSet
    // the scan must see the operator objects, or an empty surface passes
    assert(Seq("Dedup$", "TextAnalysis$", "StreamingJobs$", "Multimodal$")
      .forall(names), s"classpath scan found only $names")
    assert(!names("LogEtl$"), "LogEtl's CLI defaults are out of scope")
    val found = modules.flatMap(defaultedParams).toSet
    val added = found -- Allowed.keySet
    val gone = Allowed.keySet -- found
    assert(added.isEmpty && gone.isEmpty,
      s"defaulted parameters not in the list (make them constants, or add " +
        s"them with the non-test caller that sets them): " +
        s"${added.toSeq.sorted.mkString(", ")}; listed but gone: " +
        s"${gone.toSeq.sorted.mkString(", ")}")
  }

  /** Public defs of `graft.operators` objects that no main source
    * calls, as `Object.method` → why they stay. A def only tests call is
    * deleted with its tests; these were found when the check came in
    * and wait for their own change.
    */
  private val TestOnly: Map[String, String] = Map(
    "Similarity.cosineExact" ->
      "the decimal reference PipelineSpec compares the cosine kernels with",
    "Similarity.ivfSaveStats" -> "spec-only: the cell-stats artifact writer",
    "Similarity.ivfPqSaveStats" -> "spec-only: the cell-stats artifact writer",
    "Similarity.ivfLoadStats" -> "spec-only: the cell-stats artifact reader")

  /** The repository root: the nearest directory up from the working
    * directory that holds both source trees the call search reads.
    */
  private def repoRoot: Path = {
    val cwd = Paths.get("").toAbsolutePath
    Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
      .find(d => Files.isDirectory(d.resolve("src/main/scala")) &&
        Files.isDirectory(d.resolve("perfbench/src/main/scala")))
      .getOrElse(fail(s"no src/main/scala + perfbench/src/main/scala above $cwd"))
  }

  /** The code of every `.scala` file under `dir`, with comment lines and
    * trailing `//` comments dropped, so a scaladoc mention is no call.
    */
  private def code(dir: Path): Seq[String] = {
    val walk = Files.walk(dir)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally walk.close()
    val Comment = """^\s*(//|/\*|\*).*""".r
    files.map { f =>
      new String(Files.readAllBytes(f), "UTF-8").linesIterator
        .filterNot(l => Comment.matches(l))
        .map(_.replaceAll("(?<![:\"])//.*$", ""))
        .mkString("\n")
    }
  }

  /** `Object.method` of every Scala-public def (not a val, var,
    * synthetic member or `main`, which the JVM calls) declared on the
    * module class `cls`.
    */
  private def publicDefs(cls: Class[_]): Seq[(String, String)] = {
    val sym = ru.runtimeMirror(cls.getClassLoader).classSymbol(cls)
    val obj = cls.getName.stripSuffix("$").split('.').last.replace('$', '.')
    sym.info.decls.toSeq.filter(_.isMethod).map(_.asMethod)
      .filter(m => m.isPublic && !m.isConstructor && !m.isAccessor &&
        !m.isLazy && !m.isSynthetic && !m.name.toString.contains("$") &&
        m.name.toString != "main")
      .map(m => obj -> m.name.decodedName.toString).distinct
  }

  test("every public operator def has a caller under src/main or perfbench/src/main") {
    val root = repoRoot
    val sources =
      Seq("src/main/scala", "perfbench/src/main/scala")
        .flatMap(d => code(root.resolve(d)))
    val defs = moduleClasses("graft.operators").flatMap(publicDefs)
    // the scan must see the operators, or an empty surface passes
    assert(defs.exists(_ == ("Dedup" -> "connectedComponents")),
      s"scan found only ${defs.take(5)}")
    // a call is the name as a word anywhere but right after `def `
    def called(name: String): Boolean = {
      val q = java.util.regex.Pattern.quote(name)
      val word = ("(?<![\\w$])" + q + "(?![\\w$])").r
      val definition = ("def\\s+" + q + "(?![\\w$])").r
      sources.exists(src =>
        word.findAllIn(src).size > definition.findAllIn(src).size)
    }
    val uncalled = defs.filterNot { case (_, name) => called(name) }
      .map { case (o, n) => s"$o.$n" }.toSet
    val added = uncalled -- TestOnly.keySet
    val gone = TestOnly.keySet -- uncalled
    assert(added.isEmpty && gone.isEmpty,
      s"public operator defs no main source calls (delete them with their " +
        s"tests, or list them in TestOnly with the reason they stay): " +
        s"${added.toSeq.sorted.mkString(", ")}; listed but now called or " +
        s"gone: ${gone.toSeq.sorted.mkString(", ")}")
  }
}
