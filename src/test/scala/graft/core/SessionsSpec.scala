package graft.core

import graft.SparkSpec
import graft.tools.Profile

/** The engine's sessions keep their generated code: a flagship that runs
  * again in the same JVM reuses the classes its first run compiled. */
class SessionsSpec extends SparkSpec {

  test("x0_pipeline's third run compiles at most 10% of its first run's classes") {
    val runs = Profile.profile(spark, "/root/testdata/sf0.001", Seq("x0_pipeline"),
      runs = 2, out = _ => ())
    val compiles = runs.map(r => r.build.compiles + r.exec.compiles)
    assert(compiles.head > 0, s"compiles per run: $compiles")
    assert(compiles(2) * 10 <= compiles.head, s"compiles per run: $compiles")
  }
}
