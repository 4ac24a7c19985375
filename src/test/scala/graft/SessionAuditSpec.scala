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
  * home.
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
}
