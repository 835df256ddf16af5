package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.Bench.{Rep, Sentinel, Sweep}

/** Pins the Bench output format: the stdout contract line, its short
  * twin and the `bench_detail.json` record, byte for byte — key names,
  * key order, number rendering and the -1 convention are what consumers
  * of the sweep output parse. The expected strings were recorded from real
  * sweeps at sf0.001 (`sf` shortened; the second case marks one rep
  * failed, which the format records as -1 in place of its time).
  */
class BenchSpec extends AnyFunSuite {
  private val sf = "testdata/sf0.001"
  private def reps(secs: Seq[Double], gc: Seq[Double], heap: Seq[Double],
                   rdds: Seq[Int], stor: Seq[Double]): Seq[Rep] =
    secs.indices.map(i => Rep(secs(i), gc(i), heap(i), rdds(i), stor(i)))

  test("a failed query reports -1, is listed and leaves the total and parse probes") {
    val sweep = Sweep(sf,
      Map(
        "q09_confusion" -> reps(Seq(0.1844, 0.185), Seq(0.0, 0.0),
          Seq(0.14, 0.15), Seq(0, 0), Seq(0.0, 0.0)),
        "q329_warc_responses" -> reps(Seq(0.686, 0.6634), Seq(0.054, 0.022),
          Seq(0.22, 0.36), Seq(0, 0), Seq(0.0, 0.0)),
        "q45_ivf_ann" -> reps(Seq(-1.0, -1.0), Seq(0.0, 0.0),
          Seq(0.08, 0.08), Seq(0, 0), Seq(0.0, 0.0))),
      Seq(
        Seq(Sentinel("q60_pii_redact", 0.428, 0.53),
          Sentinel("q62_asof_join", 0.508, 0.74),
          Sentinel("q94_span_mask", 0.348, 0.89)),
        Seq(Sentinel("q60_pii_redact", 0.257, 0.36),
          Sentinel("q62_asof_join", 0.422, 0.81),
          Sentinel("q94_span_mask", 0.286, 0.69)),
        Seq(Sentinel("q60_pii_redact", 0.257, 0.36),
          Sentinel("q62_asof_join", 0.39, 0.75),
          Sentinel("q94_span_mask", 0.278, 0.67))),
      Map("q329_warc_responses" -> 150000L))
    val head = """{"metric":"total","value":0.848,"unit":"sec","sf":"testdata/sf0.001","failed":["q45_ivf_ann"],"ambient_index":0.69,"ambient":{"start":{"q60_pii_redact":{"sec":0.428,"vs_anchor":0.53},"q62_asof_join":{"sec":0.508,"vs_anchor":0.74},"q94_span_mask":{"sec":0.348,"vs_anchor":0.89}},"mid":{"q60_pii_redact":{"sec":0.257,"vs_anchor":0.36},"q62_asof_join":{"sec":0.422,"vs_anchor":0.81},"q94_span_mask":{"sec":0.286,"vs_anchor":0.69}},"end":{"q60_pii_redact":{"sec":0.257,"vs_anchor":0.36},"q62_asof_join":{"sec":0.39,"vs_anchor":0.75},"q94_span_mask":{"sec":0.278,"vs_anchor":0.67}},"phase_medians":[0.74,0.69,0.67]},"parse_mb_s":{"q329_warc_responses":{"mb":0.15,"mb_s":0.23}}"""
    val perQuery = ""","queries":{"q09_confusion":0.184,"q329_warc_responses":0.663,"q45_ivf_ann":-1.0},"runs":{"q09_confusion":[0.184,0.185],"q329_warc_responses":[0.686,0.663],"q45_ivf_ann":[-1.0,-1.0]}"""
    val telemetry = ""","gc_sec":{"q09_confusion":[0.0,0.0],"q329_warc_responses":[0.054,0.022],"q45_ivf_ann":[0.0,0.0]},"heap_gb":{"q09_confusion":[0.14,0.15],"q329_warc_responses":[0.22,0.36],"q45_ivf_ann":[0.08,0.08]},"persist_rdds":{"q09_confusion":[0,0],"q329_warc_responses":[0,0],"q45_ivf_ann":[0,0]},"storage_gb":{"q09_confusion":[0.0,0.0],"q329_warc_responses":[0.0,0.0],"q45_ivf_ann":[0.0,0.0]}"""
    val (line, short, detail) = Bench.render(sweep)
    assert(line == head + perQuery + "}")
    assert(short == head + "}")
    assert(detail == head + perQuery + telemetry + "}\n")
  }

  test("a failed rep records -1 and the query keeps its best successful rep") {
    val sweep = Sweep(sf,
      Map(
        "q09_confusion" -> reps(Seq(0.379, 0.383, 0.3321), Seq(0.016, 0.0, 0.0),
          Seq(0.1, 0.14, 0.14), Seq(0, 0, 0), Seq(0.0, 0.0, 0.0)),
        "q16_clip" -> reps(Seq(-1.0, 0.58, 0.4642), Seq(0.014, 0.023, 0.019),
          Seq(0.18, 0.15, 0.16), Seq(1, 1, 1), Seq(0.0, 0.0, 0.0))),
      Seq(Nil, Nil, Nil), Map.empty)
    val head = """{"metric":"total","value":0.796,"unit":"sec","sf":"testdata/sf0.001","failed":[],"ambient_index":-1.0,"ambient":{"start":{},"mid":{},"end":{},"phase_medians":[-1.0,-1.0,-1.0]},"parse_mb_s":{}"""
    val perQuery = ""","queries":{"q09_confusion":0.332,"q16_clip":0.464},"runs":{"q09_confusion":[0.379,0.383,0.332],"q16_clip":[-1.0,0.58,0.464]}"""
    val telemetry = ""","gc_sec":{"q09_confusion":[0.016,0.0,0.0],"q16_clip":[0.014,0.023,0.019]},"heap_gb":{"q09_confusion":[0.1,0.14,0.14],"q16_clip":[0.18,0.15,0.16]},"persist_rdds":{"q09_confusion":[0,0,0],"q16_clip":[1,1,1]},"storage_gb":{"q09_confusion":[0.0,0.0,0.0],"q16_clip":[0.0,0.0,0.0]}"""
    val (line, short, detail) = Bench.render(sweep)
    assert(line == head + perQuery + "}")
    assert(short == head + "}")
    assert(detail == head + perQuery + telemetry + "}\n")
  }
}
