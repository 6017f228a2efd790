package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine's options are its deployment and harness settings, and
  * nothing else: any other value is derived from inputs the code
  * measures. Scans the main sources with the two patterns
  * `tools/options.sh` counts with, so a change that adds an env switch
  * or a `graft.*` session conf fails here and has to say why it is a
  * deployment setting (README §Settings lists them). */
class OptionsSpec extends AnyFunSuite {

  private val settings = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SF_DIR",
    "GRAFT_SESSION_CONF", "GRAFT_BENCH_ALL", "GRAFT_BENCH_RUNS")

  private val envRead = """sys\.env[^"]*\("([A-Z_0-9]+)"""".r
  private val confNamed = """"(graft\.[A-Za-z0-9_.]+)"""".r

  test("the main sources read the six deployment settings and no graft.* conf") {
    val lines = SourceScan.files("src/main/scala").flatMap(SourceScan.lines)
    val env = lines.flatMap(l => envRead.findAllMatchIn(l).map(_.group(1))).toSet
    val confs = lines.flatMap(l => confNamed.findAllMatchIn(l).map(_.group(1))).toSet -
      "graft.plans.GraftExtensions"
    assert(env == settings, s"env vars read: added ${env -- settings}, " +
      s"gone ${settings -- env}")
    assert(confs.isEmpty, s"graft.* confs named: $confs")
  }
}
