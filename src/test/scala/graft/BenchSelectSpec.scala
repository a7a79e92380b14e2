package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench selection machinery decides what the round artifact reports —
  * these tests pin it against real ledger rows (verbatim from
  * bench_history.jsonl) and the failure modes round 3 flagged. */
class BenchSelectSpec extends AnyFunSuite {

  // verbatim ledger rows: three clean 2,8 invocations at 25M docs, the
  // throttled driver row, the legacy 4,16 row admitted under the old 2.2×
  // ceiling, and a sched-2 row carrying per-level CPU
  private val ledger = Seq(
    """{"t4":65.790,"t16":18.743,"eff":0.878,"host":0.955,"kernel":0.847,"n":25001857,"n_docs":10000000}""",
    """{"t_n":175.069,"t_4n":50.843,"eff":0.861,"host":1.000,"kernel":1.000,"n":62504577,"n_docs":25000000,"lvl":"2,8","clean_pair":true}""",
    """{"t_n":169.162,"t_4n":49.522,"eff":0.854,"host":0.972,"kernel":0.890,"n":62504577,"n_docs":25000000,"lvl":"2,8","clean_pair":true}""",
    """{"t_n":82.319,"t_4n":43.795,"eff":0.470,"host":0.992,"kernel":1.000,"n":62504577,"n_docs":25000000,"lvl":"4,16","clean_pair":true}""",
    """{"t_n":195.873,"t_4n":54.018,"eff":0.907,"host":0.962,"kernel":0.935,"n":62504577,"n_docs":25000000,"lvl":"2,8","clean_pair":true}""",
    """{"t_n":179.763,"t_4n":79.568,"eff":0.565,"host":0.992,"kernel":1.000,"n":62504577,"n_docs":25000000,"lvl":"2,8","clean_pair":false}""",
    """{"t_n":168.209,"t_4n":97.040,"eff":0.433,"host":1.000,"kernel":1.000,"n":62504577,"n_docs":25000000,"lvl":"2,8","clean_pair":false,"cpu_n":366.0,"cpu_4n":722.8,"sched":2}""",
    """{"t_n":170.000,"t_4n":48.000,"eff":0.885,"host":1.000,"kernel":1.000,"n":62504577,"n_docs":25000000,"lvl":"2,8","clean_pair":true,"cpu_n":360.0,"cpu_4n":470.0,"sched":2}""",
    // verbatim round-4 1,4 rows: their cpu_4n is clean LEVEL-4 evidence
    // that must bind level 4 in a 4,16 invocation too
    """{"t_n":310.853,"t_4n":89.286,"eff":0.87,"host":0.982,"kernel":1.0,"n":62504577,"n_docs":25000000,"lvl":"1,4","clean_pair":true,"cpu_n":300.7,"cpu_4n":333.9,"sched":2}""",
    """{"t_n":348.580,"t_4n":87.922,"eff":0.991,"host":1.0,"kernel":1.0,"n":62504577,"n_docs":25000000,"lvl":"1,4","clean_pair":true,"cpu_n":335.4,"cpu_4n":320.3,"sched":2}"""
  )

  // the rows above carry no "corpus" field: all ran on the export's corpus
  private val Export = BenchSelect.ExportCorpus

  test("cleanPairs and historicalFloors pool only one corpus's rows; no field = the export's") {
    val vocab = Seq(
      """{"t_n":129.551,"t_4n":36.122,"eff":0.897,"n":62504577,"n_docs":25000000,"lvl":"2,8","clean_pair":true,"cpu_n":123.5,"cpu_4n":127.5,"sched":2,"corpus":"vocab"}""",
      """{"t_n":135.511,"t_4n":42.089,"eff":0.805,"n":62504577,"n_docs":25000000,"lvl":"2,8","clean_pair":true,"cpu_n":128.4,"cpu_4n":146.3,"sched":2,"corpus":"vocab"}""")
    val mixed = ledger ++ vocab
    assert(BenchSelect.cleanPairs(mixed, BenchSelect.Corpus, 25000000L, 2, 8).map(_._2) ==
      Seq(0.897, 0.805))
    assert(BenchSelect.historicalFloors(mixed, BenchSelect.Corpus, 25000000L, 2, 8) ==
      Map(2 -> 123.5, 8 -> 127.5))
    // the export's figures are the same with the vocabulary's rows present
    assert(BenchSelect.cleanPairs(mixed, Export, 25000000L, 2, 8) ==
      BenchSelect.cleanPairs(ledger, Export, 25000000L, 2, 8))
    assert(BenchSelect.historicalFloors(mixed, Export, 25000000L, 2, 8) ==
      Map(2 -> 360.0, 8 -> 470.0))
    // and a row stamped with the export's name counts as one of its rows
    val stamped = ledger.last.stripSuffix("}") + ""","corpus":"export"}"""
    assert(BenchSelect.historicalFloors(Seq(stamped), Export, 25000000L, 1, 4) ==
      Map(1 -> 335.4, 4 -> 320.3))
    assert(BenchSelect.cleanPairs(vocab, Export, 25000000L, 2, 8).isEmpty)
  }

  test("cleanPairs: clean 2,8 rows kept; non-clean and off-corpus rows dropped") {
    val pairs = BenchSelect.cleanPairs(ledger, Export, 25000000L, 2, 8)
    assert(pairs.map(_._2).sorted == Seq(0.854, 0.861, 0.885, 0.907))
    // the 0.565 / 0.433 rows are clean_pair:false; the 10M row is another corpus
  }

  test("cleanPairs: legacy >8-thread-pair rows are excluded until re-measured under sched>=2") {
    // the 4,16 eff-0.470 row was admitted under the discredited 2.2× ceiling
    assert(BenchSelect.cleanPairs(ledger, Export, 25000000L, 4, 16).isEmpty)
    // a sched-2 re-measurement at the same pair WOULD count
    val remeasured = ledger :+
      """{"t_n":80.0,"t_4n":23.0,"eff":0.870,"n":62504577,"n_docs":25000000,"lvl":"4,16","clean_pair":true,"cpu_n":350.0,"cpu_4n":600.0,"sched":2}"""
    assert(BenchSelect.cleanPairs(remeasured, Export, 25000000L, 4, 16).map(_._2) == Seq(0.870))
  }

  test("median of clean pairs is the reported figure (robust to a flattered max)") {
    // the round-3 trio: the 0.907 pair's N-side ran slow-but-in-ceiling;
    // median reports 0.861, not the one-sided max
    assert(BenchSelect.median(Seq(0.861, 0.854, 0.907)).contains(0.861))
    assert(BenchSelect.median(Seq(0.854, 0.907)).contains(0.854)) // lower median
    assert(BenchSelect.median(Nil).isEmpty)
  }

  test("historicalFloors: per-level min CPU from same-corpus clean sched>=2 rows, any pair") {
    val floors = BenchSelect.historicalFloors(ledger, Export, 25000000L, 2, 8)
    // the clean sched-2 2,8 row contributes both levels (the throttled
    // sched-2 row is clean_pair:false; legacy rows carry no CPU)
    assert(floors == Map(2 -> 360.0, 8 -> 470.0))
    assert(BenchSelect.historicalFloors(ledger, Export, 10000000L, 2, 8).isEmpty)
    // cross-pair same-level evidence: the 1,4 rows' cpu_4n (320.3 min)
    // binds level 4 in a 4,16 invocation — without it, the first 4,16
    // campaign admitted a 460-CPU level-4 run (1.4× clean) as its anchor
    assert(BenchSelect.historicalFloors(ledger, Export, 25000000L, 4, 16) ==
      Map(4 -> 320.3))
    // and the 1,4 pair itself draws level-1 + level-4 evidence
    assert(BenchSelect.historicalFloors(ledger, Export, 25000000L, 1, 4) ==
      Map(1 -> 300.7, 4 -> 320.3))
  }

  test("historicalFloors: corpus match is delimiter-aware, not a decimal-prefix substring") {
    // a 250M-doc row must NOT feed floors for a 25M-doc query (and vice versa)
    val tenX = ledger :+
      """{"t_n":1700.0,"t_4n":480.0,"eff":0.885,"n":625045770,"n_docs":250000000,"lvl":"2,8","clean_pair":true,"cpu_n":36.0,"cpu_4n":47.0,"sched":2}"""
    assert(BenchSelect.historicalFloors(tenX, Export, 25000000L, 2, 8) ==
      Map(2 -> 360.0, 8 -> 470.0)) // unchanged — the 36/47 floors are the other corpus
    assert(BenchSelect.historicalFloors(tenX, Export, 250000000L, 2, 8) ==
      Map(2 -> 36.0, 8 -> 47.0))
  }

  test("ceiling: per-level floor stops a contention-inflated global min from re-anchoring a level") {
    // scenario (round-3 ADVICE): only 8-thread runs clean in this
    // invocation; their contention-inflated CPU (486) is the global min.
    // Without a per-level floor the 2-thread ceiling would be
    // 1.35 × 486 = 656 — admitting ~1.8×-throttled low runs. With the
    // historical level-2 floor (360), it is 1.3 × 360 = 468.
    val noFloor = BenchSelect.ceiling(2, globalMinCpu = 486.0, perLevelMin = None)
    assert(math.abs(noFloor - 656.1) < 0.1)
    val floored = BenchSelect.ceiling(2, globalMinCpu = 486.0, perLevelMin = Some(360.0))
    assert(math.abs(floored - 468.0) < 1e-9)
    // a mildly degraded low run (520 CPU vs 360 clean) is now rejected
    assert(520.0 > floored && 520.0 < noFloor)
    // and the schedule still binds when it is the tighter bound
    assert(BenchSelect.ceiling(8, globalMinCpu = 360.0, perLevelMin = Some(1000.0)) ==
      BenchSelect.cleanMult(8) * 360.0)
  }
}
