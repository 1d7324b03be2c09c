package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** One benchmark line the generator wrote, with the values it carries.
  * `hasA`/`hasB`/`hasM` say which optional metrics the line spells out;
  * absent metrics read back as zero. */
final case class Rec(pkg: String, test: String, day: Int, ns: Long,
    allocs: Long, bytes: Long, mbs: Double)

/** A seeded Go-bench stdout tree: daily `DD-MM-YYYY/cockroach/<pkg>/`
  * dirs holding `*.test.stdout` files, plus the noise the ingest must
  * drop (FAIL lines, non-benchmark lines, invalid date dirs, unlisted
  * packages, files outside the glob).
  *
  * Ground truth is recorded while writing: for each (pkg, test, day)
  * the value that must win last-write-wins (the later file of a day's
  * package dir, then the later line). Series are smooth (day-over-day
  * noise within ±2%) with rare planted step regressions of +10..30%, so
  * a >5% day-over-day detector fires exactly on the planted steps.
  */
final class Corpus(seed: Long, val days: Int, testsPerPkg: Int,
    val packages: Seq[String]) {
  import Corpus._

  private val rnd = new java.util.SplittableRandom(seed)
  val start: LocalDate = LocalDate.of(2015, 1, 1).plusDays(rnd.nextInt(365))
  def date(day: Int): LocalDate = start.plusDays(day)

  /** Test names: `sql` leads with the reference's priority names, the
    * rest are per-package names; every name keeps a GOMAXPROCS suffix. */
  val series: IndexedSeq[Series] = packages.toIndexedSeq.flatMap { pkg =>
    val prio =
      if (pkg == "sql") graft.operators.SeriesOps.ReferencePriorities.take(testsPerPkg / 2)
      else Nil
    val own = (0 until testsPerPkg - prio.size).map { i =>
      s"Benchmark${Words(rnd.nextInt(Words.size))}$i-${Procs(rnd.nextInt(Procs.size))}"
    }
    (prio ++ own).map { test =>
      // most series exist from day 0; some appear later (catalog growth)
      val first = if (rnd.nextInt(8) == 0) 1 + rnd.nextInt(math.max(1, days / 2)) else 0
      val steps = (first + 1 until days).flatMap { d =>
        if (rnd.nextInt(StepOneIn) == 0) Some(d -> (1.10 + 0.20 * rnd.nextDouble()))
        else if (rnd.nextInt(StepOneIn) == 0) Some(d -> (0.75 + 0.10 * rnd.nextDouble()))
        else None
      }.toMap
      Series(pkg, test, first, math.pow(10, 3 + 4 * rnd.nextDouble()).toLong,
        1 + rnd.nextInt(5000), 16 + rnd.nextInt(200000), rnd.nextInt(4) != 0,
        rnd.nextInt(4) == 0, steps)
    }
  }

  /** Every series value for every day, generated once in seed order. */
  private val values: Map[(String, String, Int), Rec] = series.flatMap { s =>
    var level = s.base.toDouble
    (s.firstDay until days).map { d =>
      s.steps.get(d).foreach(f => level *= f)
      val ns = math.round(level * (1 + (rnd.nextDouble() * 2 - 1) * Noise))
      val mbs = if (s.hasM) math.round((10 + 990 * rnd.nextDouble()) * 100) / 100.0 else 0.0
      (s.pkg, s.test, d) ->
        Rec(s.pkg, s.test, d, ns, if (s.hasAB) s.allocs else 0L,
          if (s.hasAB) s.bytes else 0L, mbs)
    }
  }.toMap

  /** Ground truth: the winning record per (pkg, test, day). */
  def truth(day: Int): Seq[Rec] =
    series.flatMap(s => values.get((s.pkg, s.test, day)))

  def truthUpTo(lastDay: Int): Seq[Rec] = (0 to lastDay).flatMap(truth)

  /** Planted regressions as (pkg, test, day): each must alert once. */
  def plantedUpTo(lastDay: Int): Set[(String, String, Int)] =
    series.flatMap(s => s.steps.collect {
      case (d, f) if f > 1 && d <= lastDay => (s.pkg, s.test, d)
    }).toSet

  private def line(r: Rec, s: Series, n: Long): String = {
    val ab = if (s.hasAB) s" \t ${r.bytes} B/op \t ${r.allocs} allocs/op" else ""
    val m = if (s.hasM) " \t " + String.format(java.util.Locale.ROOT, "%.2f", Double.box(r.mbs)) + " MB/s" else ""
    s"${r.test} \t $n \t ${r.ns} ns/op$ab$m"
  }

  /** Write one day's files under `root`; returns the files written. The
    * seed and the day fix the layout, so a rewrite is byte-identical. */
  def writeDay(root: Path, day: Int): Seq[Path] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + day)
    val dir = root.resolve(date(day).format(DirFormat)).resolve("cockroach")
    val out = Seq.newBuilder[Path]
    def put(p: Path, lines: Seq[String]): Unit = {
      Files.createDirectories(p.getParent)
      Files.write(p, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      out += p
    }
    (packages :+ UnlistedPkg).foreach { pkg =>
      val live = series.filter(s => s.pkg == pkg && s.firstDay <= day)
      val recs = live.map(s => s -> values((s.pkg, s.test, day)))
      // a re-run file sorts after the main one: its lines win
      val rerun = recs.filter(_ => r.nextInt(RerunOneIn) == 0)
      val rerunSet = rerun.map(_._1.test).toSet
      val main = recs.flatMap { case (s, v) =>
        val stale = v.copy(ns = math.max(1L, v.ns * (50 + r.nextInt(100)) / 100))
        if (rerunSet(s.test)) Seq(line(stale, s, 1000))
        else if (r.nextInt(RerunOneIn) == 0) Seq(line(stale, s, 1000), line(v, s, 1000))
        else Seq(line(v, s, 1000))
      }
      val noise =
        if (r.nextInt(3) == 0) Seq(s"--- FAIL: BenchmarkFlaky${r.nextInt(9)}-8",
          s"BenchmarkFlaky${r.nextInt(9)}-8 \t 1 \t 7 ns/op \t FAIL")
        else Nil
      val pkgDir = dir.resolve(pkg)
      val unlisted = pkg == UnlistedPkg
      val mainLines = Seq("goos: linux", "goarch: amd64",
        s"pkg: github.com/cockroachdb/cockroach/$pkg") ++
        (if (unlisted) Seq("BenchmarkUnlisted-8 \t 10 \t 5 ns/op") else main) ++
        noise ++ Seq("PASS", s"ok  \tgithub.com/cockroachdb/cockroach/$pkg\t12.345s")
      put(pkgDir.resolve("bench.test.stdout"), mainLines)
      if (rerun.nonEmpty && !unlisted)
        put(pkgDir.resolve("rerun.test.stdout"),
          rerun.map { case (s, v) => line(v, s, 1000) } :+ "PASS")
    }
    // outside the *test.stdout glob: never ingested
    put(dir.resolve("sql").resolve("notes.txt"), Seq("BenchmarkGhost-8 \t 1 \t 1 ns/op"))
    out.result()
  }

  /** Invalid date dirs: the ingest must skip them. */
  def writeInvalidDirs(root: Path): Unit =
    Seq("not-a-date", "2015-01-01").foreach { d =>
      val p = root.resolve(d).resolve("cockroach").resolve("sql").resolve("bench.test.stdout")
      Files.createDirectories(p.getParent)
      Files.write(p, "BenchmarkInvalidDir-8 \t 1 \t 9 ns/op".getBytes(StandardCharsets.UTF_8))
    }
}

object Corpus {
  final case class Series(pkg: String, test: String, firstDay: Int,
      base: Long, allocs: Long, bytes: Long, hasAB: Boolean, hasM: Boolean,
      steps: Map[Int, Double])

  val DirFormat: DateTimeFormatter = DateTimeFormatter.ofPattern("dd-MM-yyyy")
  val UnlistedPkg = "util/unlisted"
  val Noise = 0.02
  val StepOneIn = 400
  val RerunOneIn = 12
  private val Words = Vector("Scan", "Insert", "Sort", "Hash", "Encode",
    "Decode", "Parse", "Merge", "Lookup", "Range", "Put", "Get")
  private val Procs = Vector(4, 8, 16)
}
