package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one-factory gate: every SparkSession in the engine, its tools and
  * its specs comes from `graft.runtime.Sessions`, and every SQL function
  * and planner strategy is installed by [[GraftExtensions]]. A second
  * session builder, a runtime function registrar, or a runtime
  * strategy-list mutation fails this spec, so the config that is tested,
  * verified, benched and shipped cannot drift apart again; for the same
  * reason no code outside the factory sets a session conf. Likewise every
  * local checkpoint and every count-guarded broadcast goes through
  * `graft.runtime.Materialize`, so the materialisation policy has one
  * home. The same walk keeps every source file text: no literal NUL,
  * which makes grep and git diff treat a file as binary. And every
  * stateful ingest twin folds through `graft.streaming.KeyedFold`,
  * except the six whose state grows by appending, so the state
  * lifecycle (handle, load, write-back, TTL and time mode) has one home.
  * The kaflow decode barrier and the batch placeholder of its plan
  * template are built only by `GraftApp`, and
  * `GraftExtensions` installs exactly the three planner strategies.
  *
  * The searched names are assembled from pieces so this file never
  * matches itself.
  */
class SessionAuditSpec extends AnyFunSuite {

  private val factory = "src/main/scala/graft/runtime/Sessions.scala"
  private val builderCall = "SparkSession" + ".builder"
  private val registrar = "Function" + "Registrar"
  private val strategyList = "extra" + "Strategies"
  private val confSet = ".conf" + ".set("
  private val materializer = "src/main/scala/graft/runtime/Materialize.scala"
  private val checkpointCall = ".local" + "Checkpoint("
  private val broadcastGuard = "count() " + "<="
  private val processorBase = "Stateful" + "Processor"
  private val stateHandles = Seq("getValue" + "State", "getList" + "State")
  private val streaming = "src/main/scala/graft/streaming/"
  private val barrierBuild = "Decode" + "Barrier("
  private val barrierHome = "src/main/scala/graft/plans/DecodeBarrier.scala"
  private val placeholderBuild = "Batch" + "Placeholder("
  private val placeholderHome = "src/main/scala/graft/plans/BatchPlaceholder.scala"
  private val graftApp = "src/main/scala/graft/dsl/GraftApp.scala"
  private val extensions = "src/main/scala/graft/GraftExtensions.scala"
  private val strategyInjection = "inject" + "PlannerStrategy("
  private val expectedStrategies =
    Set("AsofJoinStrategy", "RangeJoinStrategy", "DecodeBarrierStrategy")
  /** (file, class) of the one fold and the six append-state processors. */
  private val lifecycleOwners = Set(
    "KeyedFold.scala" -> "KeyedFold",
    "AnnStream.scala" -> "CellProcessor",
    "CdcDedupStream.scala" -> "ChunkBucketProcessor",
    "ImageDedupStream.scala" -> "BandBucketProcessor",
    "NearDupStream.scala" -> "BandBucketProcessor",
    "TypoStream.scala" -> "VariantBucketProcessor",
    "AnonymityGateStream.scala" -> "AnonymityGateProcessor"
  ).map { case (f, c) => (streaming + f, c) }

  /** (path from the project root, lines) of every .scala file under `dir`. */
  private def sources(dir: String): Seq[(String, Array[String])] = {
    val root = new java.io.File(dir)
    assert(root.isDirectory, s"expected to run from the project root; cwd=${new java.io.File(".").getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).map { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      f.getPath.replace('\\', '/') -> src.split("\n", -1)
    }
  }

  private lazy val mainSources = sources("src/main/scala")
  private lazy val testSources = sources("src/test/scala")

  /** `path:line` of every line containing `needle`. */
  private def sites(needle: String, files: Seq[(String, Array[String])]): Seq[String] =
    files.flatMap { case (path, lines) =>
      lines.zipWithIndex.collect { case (l, i) if l.contains(needle) => s"$path:${i + 1}" }
    }

  test("only graft/runtime/Sessions.scala builds a SparkSession") {
    val all = sites(builderCall, mainSources ++ testSources)
    val (inFactory, elsewhere) = all.partition(_.startsWith(factory + ":"))
    assert(inFactory.nonEmpty, s"$factory no longer builds sessions")
    assert(elsewhere.isEmpty,
      s"session built outside the factory (use Sessions.local): ${elsewhere.mkString("; ")}")
  }

  test("only graft/runtime/Sessions.scala sets a session conf in src/main") {
    val elsewhere = sites(confSet, mainSources).filterNot(_.startsWith(factory + ":"))
    assert(elsewhere.isEmpty,
      s"session conf set outside the factory (add it to Sessions): ${elsewhere.mkString("; ")}")
  }

  test("GraftExtensions is the only function and strategy registration path") {
    val registrars = sites(registrar, mainSources ++ testSources)
    assert(registrars.isEmpty, s"runtime function registrar: ${registrars.mkString("; ")}")
    val sessionSpec = testSources.filter(_._1 == "src/test/scala/graft/SparkSpec.scala")
    assert(sessionSpec.size == 1, "shared test session moved; update this audit")
    val strategyEdits = sites(strategyList, mainSources ++ sessionSpec)
    assert(strategyEdits.isEmpty,
      s"planner strategies installed outside GraftExtensions: ${strategyEdits.mkString("; ")}")
  }

  test("no source file contains a NUL character") {
    val nuls = sites("\u0000", mainSources ++ testSources)
    assert(nuls.isEmpty, s"literal NUL (write a unicode escape): ${nuls.mkString("; ")}")
  }

  test("only graft/runtime/Materialize.scala checkpoints or count-guards a broadcast") {
    for (needle <- Seq(checkpointCall, broadcastGuard)) {
      val (inModule, elsewhere) =
        sites(needle, mainSources).partition(_.startsWith(materializer + ":"))
      assert(elsewhere.isEmpty,
        s"${elsewhere.size} `$needle` sites outside $materializer (use " +
          s"Materialize.seam / broadcastIfFits): ${elsewhere.mkString("; ")}")
      assert(inModule.nonEmpty, s"$materializer no longer holds `$needle`")
    }
  }

  test("only KeyedFold and the six append-state processors own a state lifecycle") {
    // a class header runs from `class Name` to its `extends`, with no
    // body brace and no other class keyword in between
    val header = ("""\bclass\s+(\w+)(?:(?!\bclass\b)[^{])*?\bextends\s+""" +
      processorBase + """\b""").r
    val processors = mainSources.flatMap { case (path, lines) =>
      header.findAllMatchIn(lines.mkString("\n")).map(m => (path, m.group(1)))
    }
    val extra = processors.filterNot(lifecycleOwners.contains)
    assert(extra.isEmpty, s"${extra.size} processors outside KeyedFold (fold " +
      s"through KeyedFold): ${extra.map { case (p, c) => s"$p:$c" }.mkString("; ")}")
    assert(processors.toSet == lifecycleOwners,
      s"missing: ${(lifecycleOwners -- processors).mkString("; ")}")
    val ownerFiles = lifecycleOwners.map(_._1)
    val handles = stateHandles.flatMap(sites(_, mainSources))
      .filterNot(site => ownerFiles.exists(f => site.startsWith(f + ":")))
    assert(handles.isEmpty,
      s"state handle opened outside KeyedFold: ${handles.mkString("; ")}")
  }

  /** Fails unless `build` occurs in `graftApp` and nowhere else but `home`. */
  private def builtOnlyByGraftApp(build: String, home: String, what: String): Unit = {
    val (inGraftApp, elsewhere) = sites(build, mainSources ++ testSources)
      .filterNot(_.startsWith(home + ":"))
      .partition(_.startsWith(graftApp + ":"))
    assert(inGraftApp.nonEmpty, s"$graftApp no longer builds the $what")
    assert(elsewhere.isEmpty, s"$what built outside GraftApp: ${elsewhere.mkString("; ")}")
  }

  test("only GraftApp builds the decode barrier") {
    builtOnlyByGraftApp(barrierBuild, barrierHome, "decode barrier")
  }

  test("only GraftApp builds the batch placeholder") {
    builtOnlyByGraftApp(placeholderBuild, placeholderHome, "batch placeholder")
  }

  test("GraftExtensions installs exactly the three planner strategies") {
    val injection = ("inject" + """PlannerStrategy\(\s*_\s*=>\s*(\w+)\s*\)""").r
    val (inExtensions, elsewhere) =
      sites(strategyInjection, mainSources).partition(_.startsWith(extensions + ":"))
    assert(elsewhere.isEmpty, s"strategy injected outside $extensions: ${elsewhere.mkString("; ")}")
    val lines = mainSources.collectFirst { case (`extensions`, l) => l }.getOrElse(Array.empty)
    val installed = lines.toSeq.flatMap(l => injection.findAllMatchIn(l).map(_.group(1)))
    assert(installed.size == inExtensions.size,
      s"an injection this audit cannot read: ${inExtensions.mkString("; ")}")
    assert(installed.sorted == expectedStrategies.toSeq.sorted,
      s"installed ${installed.mkString(", ")}; expected ${expectedStrategies.mkString(", ")}")
  }
}
