package graft

import java.io.File
import java.nio.file.{Files, Paths}

/** The engine's mains: what Profile reports, and which files may hold an
  * entry point or build a session. */
class EntryPointSpec extends SparkSpec {

  test("Profile reports what executed: the final plan, three timings and three compile counts") {
    val plans = tmpDir("profile-plans")
    // q01 has no exchange, so adaptive execution leaves it unwrapped; q02's
    // aggregation shuffles, so its executed plan is the final adaptive one
    for (name <- Seq("q01_scan_filter_project", "q02_pricing_summary")) {
      val its = Profile.profile(spark, sf001, name, Some(plans))
      assert(its.size == 3)
      assert(its.forall(it => it.planS > 0 && it.totalS >= it.planS), its.mkString(", "))
      assert(its.forall(_.compiles >= 0), its.mkString(", "))
    }
    def plan(name: String) = Files.readString(Paths.get(plans, s"$name.txt"))
    val q01 = plan("q01_scan_filter_project")
    // the noop write node exists only in the plan that ran, not in the
    // query's own DataFrame plan
    assert(q01.contains("NoopWrite"), s"not the executed write:\n$q01")
    assert(q01.contains("PushedFilters"), q01)
    val q02 = plan("q02_pricing_summary")
    assert(q02.contains("AdaptiveSparkPlan") && q02.contains("isFinalPlan=true"),
      s"not the post-execution plan:\n$q02")
    assert(!q02.contains("isFinalPlan=false"), q02)
  }

  test("layout law: the six mains are the only entry points and SparkEntry builds every local session") {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(files)
      else Seq(f)
    def read(f: File): Vector[String] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
      else line.split(" //", 2)(0)
    }
    val main = files(new File("src/main/scala")).filter(_.getName.endsWith(".scala"))
      .map(f => f.getName -> read(f).map(code).mkString("\n"))
    assert(main.size > 50, s"engine sources not found under ${new File("src/main/scala").getAbsolutePath}")
    def holding(token: String): Set[String] =
      main.collect { case (name, text) if text.contains(token) => name }.toSet
    val mains = Set("Bench.scala", "Verify.scala", "Profile.scala", "BenchScale.scala",
      "ScaleGen.scala", "BnplApp.scala")
    val extraMains = holding("def main(") -- mains
    assert(extraMains.isEmpty,
      s"a new main: run it through graft.Profile or a test instead: ${extraMains.mkString(", ")}")
    val builders = holding("SparkSession.builder")
    assert(builders.contains("SparkEntry.scala"), "SparkEntry.localSession no longer builds the session")
    val extraBuilders = builders -- Set("SparkEntry.scala", "BnplApp.scala")
    assert(extraBuilders.isEmpty,
      s"a session built outside SparkEntry.localSession: ${extraBuilders.mkString(", ")}")
    // the codegen cache size is a constant; a per-process override would
    // let a run measure a session no deployment runs
    val knob = "SPARK_GRAFT_" + "CODEGEN_CACHE"
    val everywhere = Seq("src", "tools", "perfbench", "build.sbt").map(new File(_)).flatMap(files)
    val knobs = everywhere.filter { f =>
      new String(Files.readAllBytes(f.toPath), "ISO-8859-1").contains(knob)
    }.map(_.getPath)
    assert(knobs.isEmpty, s"$knob is back: ${knobs.mkString(", ")}")
  }
}
