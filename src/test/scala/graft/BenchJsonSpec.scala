package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Pins the shape of the one-line bench artifact (BENCH_r{N}.json). The
  * round-5 driver run mis-reported a ~32 s engine as ~60 s because a
  * contiguous block of queries was starved by external box load and the
  * artifact carried nothing that revealed it. These tests pin the fields
  * that make a dirty run self-identifying: per-rep arrays, loadavg
  * snapshots, and the suspect list — so the shape can't silently drift
  * back to medians-only. No SparkSession needed: renderJson is pure.
  */
class BenchJsonSpec extends AnyFunSuite with TempDirs {

  private val clean = Bench.QueryTimes("q01", Vector(0.50, 0.52, 0.48))
  // 16x rep spread, the r5 q42 pattern: one rep starved by external load
  private val dirty = Bench.QueryTimes("q42", Vector(0.70, 11.4, 0.72))
  private val failed = Bench.QueryTimes("q99", Vector(0.3, -1.0, 0.3))

  private def parsed(qs: Seq[Bench.QueryTimes]): JValue =
    JsonMethods.parse(
      Bench.renderJson(qs, reps = 3, sfDir = "/sf", loadBefore = "0.1 0.2 0.3",
        loadAfter = "1.0 0.5 0.3"))

  test("artifact is valid one-line JSON with the driver-contract fields") {
    val line = Bench.renderJson(Seq(clean, dirty), 3, "/sf", "a", "b")
    assert(!line.contains("\n"))
    val j = parsed(Seq(clean, dirty))
    assert((j \ "metric") === JString("total"))
    assert((j \ "unit") === JString("sec"))
    assert((j \ "stat") === JString("median"))
    assert((j \ "reps") === JInt(3))
    assert((j \ "sf") === JString("/sf"))
    // "queries" still maps query -> ONE number (the median): the driver
    // contract predates the contention fields and must keep parsing.
    val JDouble(q01) = (j \ "queries" \ "q01"): @unchecked
    assert(q01 === 0.50)
    val JDouble(total) = (j \ "value"): @unchecked
    assert(math.abs(total - (0.50 + 0.72)) < 1e-9)
  }

  test("per-rep arrays are emitted verbatim and in run order") {
    val j = parsed(Seq(clean, dirty))
    val JArray(reps) = (j \ "queries_reps" \ "q42"): @unchecked
    assert(reps.map { case JDouble(d) => d case x => fail(x.toString) } ===
      List(0.70, 11.4, 0.72))
  }

  test("loadavg snapshots ride in the artifact") {
    val j = parsed(Seq(clean))
    assert((j \ "load_before") === JString("0.1 0.2 0.3"))
    assert((j \ "load_after") === JString("1.0 0.5 0.3"))
  }

  test("a >=2x rep spread with >=0.5s absolute gap is flagged suspect") {
    val j = parsed(Seq(clean, dirty))
    val JArray(sus) = (j \ "suspect"): @unchecked
    assert(sus === List(JString("q42")))
  }

  test("sub-second jitter below the absolute gap floor is NOT suspect") {
    // 3x ratio but only 0.2s gap: natural jitter on a tiny query
    val jitter = Bench.QueryTimes("q07", Vector(0.10, 0.30, 0.12))
    assert(!jitter.suspect)
    // and a large absolute gap below 2x ratio is also clean (steady load
    // shifts all reps together; only asymmetry between reps is evidence)
    val steady = Bench.QueryTimes("q26", Vector(3.0, 4.0, 3.5))
    assert(!steady.suspect)
  }

  test("a failed rep poisons the query (-1.0 median/min) and is never suspect") {
    assert(failed.median === -1.0 && failed.min === -1.0 && !failed.suspect)
    val j = parsed(Seq(failed))
    val JDouble(med) = (j \ "queries" \ "q99"): @unchecked
    assert(med === -1.0)
    // failed queries don't contribute to the total
    val JDouble(total) = (j \ "value"): @unchecked
    assert(total === 0.0)
  }

  test("per-rep GC millis ride alongside the rep times (pause vs load)") {
    // a 12s rep with ~11s of GC is a pause, not box contention — the
    // artifact must let the judge tell them apart without a re-run
    val gcHeavy = Bench.QueryTimes("q43", Vector(0.9, 12.1, 1.0),
      Vector(40L, 11200L, 45L))
    val j = parsed(Seq(gcHeavy))
    val JArray(gc) = (j \ "queries_gc_ms" \ "q43"): @unchecked
    assert(gc.map { case JInt(n) => n.toLong case x => fail(x.toString) } ===
      List(40L, 11200L, 45L))
    // queries w/o recorded GC (pure-render tests) emit an empty array,
    // and the line stays one-line valid JSON either way
    val j2 = parsed(Seq(clean))
    assert((j2 \ "queries_gc_ms" \ "q01") === JArray(Nil))
  }

  test("compact line is <2KB-scale, parseable, and driver-contract complete") {
    // query names collapse to their unique qNN prefix in the compact
    // line — full names live in the full line / bench_full.json
    val line = Bench.renderCompactJson(
      Seq(clean.copy(name = "q01_pricing"), dirty.copy(name = "q42_sess"),
        failed.copy(name = "q99_x")), 3, "/sf")
    assert(!line.contains("\n"))
    val j = JsonMethods.parse(line)
    assert((j \ "metric") === JString("total"))
    assert((j \ "unit") === JString("sec"))
    assert((j \ "sf") === JString("/sf"))
    val JDouble(q01) = (j \ "queries" \ "q01"): @unchecked
    assert(q01 === 0.50)
    // failed query rides as -1.0 but doesn't contribute to the total
    val JDouble(q99) = (j \ "queries" \ "q99"): @unchecked
    assert(q99 === -1.0)
    val JDouble(total) = (j \ "value"): @unchecked
    assert(math.abs(total - (0.50 + 0.72)) < 5e-4) // 3dp rounding
    val JArray(sus) = (j \ "suspect"): @unchecked
    assert(sus === List(JString("q42")))
    // the headline total is the LAST field: even a front-truncated tail
    // window keeps it (the round-8 failure sliced the leading "value")
    assert(line.indexOf("\"value\":") > line.indexOf("\"queries\":"))
    assert(line.endsWith("}"))
    // no per-rep/gc/load blocks: those live in the full line only — the
    // compact line's reason to exist is fitting a 2000-char stdout tail
    assert((j \ "queries_reps") === JNothing)
    assert((j \ "queries_gc_ms") === JNothing)
    assert((j \ "load_before") === JNothing)
  }

  test("calibration wall rides in both artifact lines (box-throughput normalizer)") {
    // r13: every cross-round board comparison needs the box factor —
    // "cal" is the fixed 2e9-row xxhash64 fold's median wall; -1.0
    // (the default) marks an artifact whose caller didn't calibrate
    val jc = JsonMethods.parse(Bench.renderCompactJson(Seq(clean), 3, "/sf", cal = 0.714))
    val JDouble(cc) = (jc \ "cal"): @unchecked
    assert(cc === 0.714)
    val jf = JsonMethods.parse(Bench.renderJson(Seq(clean), 3, "/sf", "a", "b", cal = 0.714))
    val JDouble(cf) = (jf \ "cal"): @unchecked
    assert(cf === 0.714)
    // default marks absence, and the compact headline stays LAST
    val line = Bench.renderCompactJson(Seq(clean), 3, "/sf")
    assert(line.contains("\"cal\":-1.0"))
    assert(line.indexOf("\"value\":") > line.indexOf("\"cal\":"))
  }

  test("short compact keys must be unique (a qNN collision fails loudly)") {
    val a = Bench.QueryTimes("q05_one", Vector(0.1))
    val b = Bench.QueryTimes("q05_two", Vector(0.2))
    assertThrows[IllegalArgumentException] {
      Bench.renderCompactJson(Seq(a, b), 1, "/sf")
    }
  }

  test("compact line + tail padding survive the driver's 2000-char stdout tail") {
    // pin it against the actual declared query names with pessimistic
    // two-digit-seconds medians (worst realistic width), every query
    // suspect AND retried (worst-case list widths)
    val real = SparkEntry.queries.keys.toSeq.sorted.map(n =>
      Bench.QueryTimes(n, Vector(88.888888, 188.9, 88.85), retried = 2))
    val line = Bench.renderCompactJson(real, 3, "/root/testdata/sf0.1")
    // the binding invariant is line + newline <= the 2000-char tail
    // window (checked end-to-end below); the margin here is headroom
    // for future queries
    assert(line.length < 1950, s"compact line is ${line.length} chars")
    val j = JsonMethods.parse(line)
    val JObject(fields) = (j \ "queries"): @unchecked
    assert(fields.size === SparkEntry.queries.size)
    // simulate the driver: stdout = full line + padding + compact line,
    // tail = last 2000 chars. The tail must parse AS A WHOLE (leading
    // whitespace is valid JSON trivia) and contain the headline value.
    val full = Bench.renderJson(real, 3, "/root/testdata/sf0.1", "1 1 1", "1 1 1")
    val stdout = full + "\n" + Bench.TailPad + line + "\n"
    val tail = stdout.takeRight(2000)
    val jt = JsonMethods.parse(tail)
    assert((jt \ "metric") === JString("total"))
    assert((jt \ "value") !== JNothing)
    val JObject(tailQs) = (jt \ "queries"): @unchecked
    assert(tailQs.size === SparkEntry.queries.size)
  }

  test("medianOf averages the middle pair on even counts (no minimum-side bias)") {
    assert(Bench.medianOf(Vector(3.0)) === 3.0)
    assert(Bench.medianOf(Vector(1.0, 2.0, 9.0)) === 2.0)
    // the r9-ADVICE shape: one fast extra on a contended 3-rep pattern
    // must NOT flip the median to the minimum side
    assert(Bench.medianOf(Vector(21.6, 13.5, 0.88, 0.9)) === (0.9 + 13.5) / 2.0)
    assert(Bench.medianOf(Vector(4.0, 2.0)) === 3.0)
  }

  test("loadContended matches the external-load signature, not GC or clean runs") {
    // round-8 committed q28: 21.6/13.5/0.88 s with GC 0/241/0 ms — the
    // contended-box shape the adaptive re-rep exists for
    assert(Bench.loadContended(Vector(21.6, 13.5, 0.88), Vector(0L, 241L, 0L)))
    // clean reps: no
    assert(!Bench.loadContended(Vector(0.50, 0.52, 0.48), Vector(5L, 3L, 4L)))
    // one slow rep but the median is fine: no (median robustness already
    // absorbs a single outlier — no extra reps needed)
    assert(!Bench.loadContended(Vector(0.5, 11.4, 0.52), Vector(0L, 10L, 0L)))
    // slow reps fully billed to GC: a real collector pause, not load
    assert(!Bench.loadContended(Vector(0.9, 12.1, 12.3), Vector(40L, 11200L, 11400L)))
    // failed reps never trigger re-reps; surviving reps are judged on
    // their own (2-rep median = the lower one → not contended here)
    assert(!Bench.loadContended(Vector(-1.0, -1.0, -1.0), Vector(0L, 0L, 0L)))
    assert(!Bench.loadContended(Vector(0.5, -1.0, 9.9), Vector(0L, 0L, 0L)))
  }

  test("adaptiveReps: transient load repairs the median, sustained load stays honest") {
    // scripted rep runner — deterministic end-to-end check of the loop
    // the shell-level load experiment can't time reliably
    def runner(queue: Iterator[(Double, Long)]): () => (Double, Long) =
      () => queue.next()
    // r8's committed q28 pattern, box now idle: extras come in clean and
    // the median drops from 13.5 to the engine's ~0.9
    val (t1, e1) = Bench.adaptiveReps(
      Vector((21.6, 0L), (13.5, 241L), (0.88, 0L)),
      runner(Iterator((0.9, 5L), (0.91, 3L))))
    // BOTH extras run (r10: unconditional once triggered, keeping the
    // rep count odd so the median is one real rep, no even-count bias)
    assert(e1 === 2)
    val q1 = Bench.QueryTimes("q28", t1.map(_._1), t1.map(_._2), retried = e1)
    assert(q1.median < 1.0, s"median ${q1.median} should be the clean cost")
    assert(q1.suspect) // evidence of the dirty box is preserved
    // box still contended: extras stay slow, the median stays high —
    // re-repping must not manufacture a fast number
    val (t2, e2) = Bench.adaptiveReps(
      Vector((21.6, 0L), (13.5, 241L), (0.88, 0L)),
      runner(Iterator((14.0, 0L), (15.1, 2L))))
    assert(e2 === 2)
    val q2 = Bench.QueryTimes("q28", t2.map(_._1), t2.map(_._2), retried = e2)
    assert(q2.median > 13.0)
    // clean pattern: zero extras, zero cost
    val (t3, e3) = Bench.adaptiveReps(
      Vector((0.5, 2L), (0.52, 1L), (0.49, 0L)),
      () => fail("no extra rep should run on a clean pattern"))
    assert(e3 === 0 && t3.size === 3)
    // uniform sustained load (all reps equally slow): no signature, no
    // extras — the suspect machinery and loadavg fields carry the story
    val (_, e4) = Bench.adaptiveReps(
      Vector((2.2, 3L), (2.3, 1L), (2.1, 2L)),
      () => fail("uniformly-slow reps are not the transient signature"))
    assert(e4 === 0)
  }

  test("retried queries are listed in both artifact lines") {
    val r = Bench.QueryTimes("q28_simhash", Vector(21.6, 13.5, 0.88, 0.6, 0.59),
      Vector(0L, 241L, 0L, 1L, 0L), retried = 2)
    val j = parsed(Seq(r))
    val JArray(ret) = (j \ "retried"): @unchecked
    assert(ret === List(JString("q28_simhash")))
    // median over ALL reps incl. the extras: 0.88 (the engine's number)
    val JDouble(med) = (j \ "queries" \ "q28_simhash"): @unchecked
    assert(med === 0.88)
    val jc = JsonMethods.parse(Bench.renderCompactJson(Seq(r), 3, "/sf"))
    val JArray(retC) = (jc \ "retried"): @unchecked
    assert(retC === List(JString("q28")))
    // the spread still flags it suspect — retrying repairs the median,
    // not the evidence that the box was dirty
    val JArray(susC) = (jc \ "suspect"): @unchecked
    assert(susC === List(JString("q28")))
  }

  test("dirtyRunReason gates the committed artifact on load_before and suspects") {
    // the clean committed boards: 1-min ~0, 5-min well under 1.5, 0-1 suspects
    assert(Bench.dirtyRunReason("0.02 0.31 0.56", 1) === None)
    assert(Bench.dirtyRunReason("0.49 1.49 2.0", 3) === None)
    // the r11 driver-run shape: full board under external load — either
    // signal alone must divert the write to bench_compact.dirty.json
    assert(Bench.dirtyRunReason("4.81 3.2 1.9", 0).isDefined)   // 1-min hot
    assert(Bench.dirtyRunReason("0.0 2.4 3.1", 0).isDefined)    // 5-min hot
    assert(Bench.dirtyRunReason("0.1 0.2 0.3", 11).isDefined)   // mid-run spike
    assert(Bench.dirtyRunReason("0.1 0.2 0.3", Bench.DirtySuspectN).isDefined)
    // no /proc/loadavg (empty) fails OPEN on load; suspect gate still bites
    assert(Bench.dirtyRunReason("", 0) === None)
    assert(Bench.dirtyRunReason("", 9).isDefined)
    // garbage load strings fail open too (never block a run on a parse bug)
    assert(Bench.dirtyRunReason("n/a", 0) === None)
  }

  test("gcMillis() is non-negative and non-decreasing under allocation") {
    val a = Bench.gcMillis()
    assert(a >= 0L)
    // churn enough garbage that at least one young-gen collection is
    // plausible before the second read; monotonicity must hold regardless
    // (collection *time* never decreases), the allocation just makes the
    // test exercise a nonzero delta on most runs instead of two idle reads
    var sink = 0L
    var i = 0
    while (i < 200) {
      val arr = new Array[Long](1 << 16)
      arr(i % arr.length) = i.toLong
      sink ^= arr(arr.length - 1 - (i % arr.length))
      i += 1
    }
    assert(sink !== Long.MinValue) // keep `sink` live (xor of zeros is 0)
    assert(Bench.gcMillis() >= a)
  }

  test("loadavg() reads this box's /proc/loadavg as three fields") {
    val s = Bench.loadavg()
    assert(s.isEmpty || s.split(" ").length === 3)
  }

  test("uniform-slowdown guard diverts a uniformly-slow board but not a localized regression") {
    val committed = (1 to 20).map(i => s"q$i" -> 1.0).toMap
    // uniform 1.2x — the mid-run contention signature: divert
    assert(Bench.uniformSlowdownReason(
      committed, committed.view.mapValues(_ * 1.2).toMap).isDefined)
    // one query 3x slower, the rest flat — a LOCALIZED engine
    // regression must reach the committed artifact, not hide as dirty
    val localized = committed.updated("q7", 3.0)
    assert(Bench.uniformSlowdownReason(committed, localized) === None)
    // uniformly FASTER boards always commit
    assert(Bench.uniformSlowdownReason(
      committed, committed.view.mapValues(_ * 0.8).toMap) === None)
    // noise-floor queries (committed < 0.1 s) can't vote: 15 tiny
    // queries doubling is 0 valid ratios + 5 valid — below the
    // min-shared floor, fail open
    val tiny = (1 to 15).map(i => s"t$i" -> 0.05).toMap ++
      (1 to 5).map(i => s"q$i" -> 1.0).toMap
    assert(Bench.uniformSlowdownReason(
      tiny, tiny.view.mapValues(_ * 2.0).toMap) === None)
    // no committed board / disjoint query sets: fail open
    assert(Bench.uniformSlowdownReason(Map.empty, committed) === None)
  }

  test("heavy-tail guard: the r14 cal-10.21 signature fails p90 though the median passes") {
    // the incident the guard codifies (r14 SCALE.md capture log): a
    // degraded box inflates the SMALL queries ~3x and leaves the big
    // ones flat — the median over a big-query-dominated board reads
    // 1.07x (passes the 1.15x uniform guard), and the dirty board was
    // reverted BY HAND. 20 shared queries: 15 big flat + 5 small 3x.
    val committed = (1 to 15).map(i => s"b$i" -> 2.0).toMap ++
      (1 to 5).map(i => s"s$i" -> 0.3).toMap
    val heavyTail = (1 to 15).map(i => s"b$i" -> 2.0).toMap ++
      (1 to 5).map(i => s"s$i" -> 0.9).toMap
    assert(Bench.uniformSlowdownReason(committed, heavyTail) === None,
      "fixture must PASS the median guard — that is the incident")
    val r = Bench.tailSlowdownReason(committed, heavyTail)
    assert(r.isDefined && r.get.contains("p90"), s"p90 guard missed: $r")
    // a clean board (uniform ~1.05x jitter) passes the tail guard
    assert(Bench.tailSlowdownReason(
      committed, committed.view.mapValues(_ * 1.05).toMap) === None)
    // a single 3x outlier (localized engine regression, 5% of the
    // board) stays below p90 and must reach the committed artifact
    assert(Bench.tailSlowdownReason(
      committed, committed.updated("b7", 6.0)) === None)
    // fail open below the min-shared floor
    assert(Bench.tailSlowdownReason(
      Map("q1" -> 1.0), Map("q1" -> 3.0)) === None)
  }

  test("cal guard: a run on a >=1.2x-slower box than the capture of record diverts") {
    // r14's incident cal: committed 5.12, degraded run 10.21 — divert
    assert(Bench.calRegressionReason(Some(5.12), 10.21).isDefined)
    // comparable box (the r13->r14 4.96 -> 5.12 drift): commit
    assert(Bench.calRegressionReason(Some(4.96), 5.12) === None)
    // exactly at the ratio: divert (>=)
    assert(Bench.calRegressionReason(Some(5.0), 6.0).isDefined)
    // faster box: commit
    assert(Bench.calRegressionReason(Some(5.0), 4.0) === None)
    // fail open: no committed cal (first capture / pre-field board),
    // uncalibrated fresh run, nonsense committed value
    assert(Bench.calRegressionReason(None, 10.0) === None)
    assert(Bench.calRegressionReason(Some(5.0), -1.0) === None)
    assert(Bench.calRegressionReason(Some(-1.0), 10.0) === None)
  }

  test("committedBoardCal parses the compact artifact's cal and fails open otherwise") {
    val dir = tempDir("graft_cal")
    val p = dir.resolve("bench_compact.json")
    java.nio.file.Files.writeString(p,
      """{"metric":"total","unit":"sec","queries":{"q01":0.5},""" +
        """"cal":5.122,"sf":"/x","value":0.5}""")
    assert(Bench.committedBoardCal(p.toString) === Some(5.122))
    assert(Bench.committedBoardCal(dir.resolve("missing.json").toString) === None)
    java.nio.file.Files.writeString(p, """{"queries":{"q01":0.5}}""")
    assert(Bench.committedBoardCal(p.toString) === None)
    java.nio.file.Files.writeString(p, "not json")
    assert(Bench.committedBoardCal(p.toString) === None)
  }

  test("committedBoardQueries parses the compact artifact and fails open otherwise") {
    val dir = tempDir("graft_board")
    val p = dir.resolve("bench_compact.json")
    java.nio.file.Files.writeString(p,
      """{"metric":"total","unit":"sec","queries":{"q01":0.5,"q02":1.25},""" +
        """"suspect_n":0,"suspect":[],"retried_n":0,"retried":[],""" +
        """"sf":"/x","value":1.75}""")
    assert(Bench.committedBoardQueries(p.toString) ===
      Map("q01" -> 0.5, "q02" -> 1.25))
    assert(Bench.committedBoardSf(p.toString) === Some("/x"))
    assert(Bench.committedBoardQueries(
      dir.resolve("missing.json").toString) === Map.empty)
    assert(Bench.committedBoardSf(dir.resolve("missing.json").toString) === None)
    java.nio.file.Files.writeString(p, "not json at all")
    assert(Bench.committedBoardQueries(p.toString) === Map.empty)
    assert(Bench.committedBoardSf(p.toString) === None)
  }

  test("sf-mismatch guard: a different-scale run never replaces the board of record") {
    // the round-12 ADVICE scenario: committed board is sf0.1; a sf0.01
    // run reads uniformly faster and would silently replace it, a sf1
    // run would divert forever as a "uniform slowdown" — both must be
    // named for what they are: a scale mismatch
    assert(Bench.sfMismatchReason(
      Some("/root/testdata/sf0.1"), "/root/testdata/sf0.01").isDefined)
    assert(Bench.sfMismatchReason(
      Some("/root/testdata/sf0.1"), "/root/testdata/sf1").isDefined)
    // same sf: no objection
    assert(Bench.sfMismatchReason(
      Some("/root/testdata/sf0.1"), "/root/testdata/sf0.1") === None)
    // no committed board (or one predating the sf field): fail open —
    // a first capture must be able to write the artifact
    assert(Bench.sfMismatchReason(None, "/root/testdata/sf0.1") === None)
  }

  test("diverted runs end with the FRESH run's numbers + nested committed board (r14 ADVICE)") {
    val committed = Bench.renderCompactJson(Seq(clean), 3, "/sf", cal = 4.96)
    val fresh = Bench.renderCompactJson(Seq(dirty), 3, "/sf", cal = 6.5)
    val reason = "4 suspect queries (>= 4): box was load-spiked mid-run"
    // the final line carries THIS run's own measurements under the
    // normal keys — a consumer parsing the artifact attributes fresh
    // numbers, never the stale board of record, to this run
    val line = Bench.divertedFinalLine(Some(committed + "\n"), fresh, reason)
    val j = JsonMethods.parse(line)
    assert((j \ "diverted_reason") === JString(reason))
    val JDouble(q42) = (j \ "queries" \ "q42"): @unchecked
    assert(q42 === 0.72) // the FRESH median (dirty run's own)
    assert((j \ "queries" \ "q01") === JNothing) // committed medians absent
    val JDouble(cal) = (j \ "cal"): @unchecked
    assert(cal === 6.5) // the fresh run's own cal
    // the board of record rides along NESTED — value + cal only, under
    // a key no queries/value consumer ever reads
    val JDouble(cv) = (j \ "committed_board" \ "value"): @unchecked
    assert(cv === 0.5)
    val JDouble(cc) = (j \ "committed_board" \ "cal"): @unchecked
    assert(cc === 4.96)
    // no committed board (first capture diverted): fresh board, reason
    // attached, no committed_board key
    val j2 = JsonMethods.parse(Bench.divertedFinalLine(None, fresh, reason))
    assert((j2 \ "diverted_reason") === JString(reason))
    val JDouble(q42b) = (j2 \ "queries" \ "q42"): @unchecked
    assert(q42b === 0.72)
    assert((j2 \ "committed_board") === JNothing)
    // an unreadable/garbage committed file: fresh board still intact
    val j3 = JsonMethods.parse(
      Bench.divertedFinalLine(Some("not json"), fresh, reason))
    assert((j3 \ "queries" \ "q42") !== JNothing)
    assert((j3 \ "committed_board") === JNothing)
    // reasons with JSON-hostile characters can't break the line
    val j4 = JsonMethods.parse(Bench.divertedFinalLine(Some(committed), fresh,
      "a \"quoted\" reason\nwith\\controls" + ("x" * 300)))
    val JString(r4) = (j4 \ "diverted_reason"): @unchecked
    assert(r4.length <= 120 && !r4.contains('"') && !r4.contains('\n'))
  }

  test("waitForIdle polls until the load gate clears, bounded, fail-open") {
    // scripted load sequence: hot, hot, clean — two sleeps then exit
    var sleeps = 0
    val seq = Iterator("3.1 1.0 0.5", "0.9 0.8 0.5", "0.12 0.6 0.5")
    val (load, waited) = Bench.waitForIdle(
      () => seq.next(), _ => sleeps += 1, maxSec = 480, pollSec = 15)
    assert(load === "0.12 0.6 0.5")
    assert(waited === 30 && sleeps === 2)
    // already clean: no sleeps at all
    var slept2 = 0
    val (l2, w2) = Bench.waitForIdle(() => "0.01 0.2 0.3", _ => slept2 += 1)
    assert(l2 === "0.01 0.2 0.3" && w2 === 0 && slept2 === 0)
    // never clean: gives up at the bound instead of blocking the round
    var slept3 = 0
    val (_, w3) = Bench.waitForIdle(
      () => "9.9 9.9 9.9", _ => slept3 += 1, maxSec = 60, pollSec = 15)
    assert(w3 === 60 && slept3 === 4)
    // unreadable loadavg (no /proc): same fail-open as the gate itself
    var slept4 = 0
    val (_, w4) = Bench.waitForIdle(() => "", _ => slept4 += 1)
    assert(w4 === 0 && slept4 === 0)
  }
}
