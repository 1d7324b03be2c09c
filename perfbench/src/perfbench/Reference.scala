package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.jdk.CollectionConverters._

/** Plain-Scala reference over the generator's ground-truth records: the
  * answers the engine must give, computed without Spark. Every check
  * returns the list of mismatches it found (empty = correct). */
final class Reference(corpus: Corpus) {

  private def key(d: LocalDate) = d.format(Corpus.DirFormat)

  /** The fact row the engine must hold for a record, as a comparable
    * tuple (pkg, test, date, ns, allocs, bytes, mb/s). */
  def factRow(r: Rec): Seq[Any] =
    Seq(r.pkg, r.test, corpus.date(r.day), r.ns, r.allocs, r.bytes, r.mbs)

  // ---- publish: series JSON bodies and the catalog -----------------

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A JSON object (text or already parsed) with its keys in document order. */
  private def ordered(v: Any): collection.Map[String, Any] = v match {
    case s: String => json.readValue(s, classOf[java.util.LinkedHashMap[String, Any]]).asScala
    case m: java.util.Map[_, _] => m.asInstanceOf[java.util.Map[String, Any]].asScala
  }

  /** Check `<out>/<pkg>/<test>.json` for every (pkg, test): date keys in
    * lexical DD-MM-YYYY order, each holding {N, A, B, M}; and no extra
    * files. */
  def checkSeriesDir(out: Path, recs: Seq[Rec]): Seq[String] = {
    val bySeries = recs.groupBy(r => (r.pkg, r.test))
    val bad = Seq.newBuilder[String]
    bySeries.foreach { case ((pkg, test), rs) =>
      val f = out.resolve(pkg).resolve(test + ".json")
      if (!Files.isRegularFile(f)) bad += s"missing $pkg/$test.json"
      else {
        val want = rs.map(r => key(corpus.date(r.day)) -> r).sortBy(_._1)
        val got = ordered(Files.readString(f)).toSeq.map { case (k, v) => k -> ordered(v) }
        def num(m: collection.Map[String, Any], k: String) = m(k).asInstanceOf[Number]
        val diff = got.zipAll(want, null, null).find {
          case ((gk, gv), (wk, r)) =>
            gk != wk || num(gv, "N").longValue != r.ns || num(gv, "A").longValue != r.allocs ||
              num(gv, "B").longValue != r.bytes || num(gv, "M").doubleValue != r.mbs
          case _ => true
        }
        diff.foreach(d => bad += s"series body $pkg/$test.json: got ${d._1}, want ${d._2}")
      }
    }
    val files = Files.walk(out).iterator().asScala.count(Files.isRegularFile(_))
    if (files != bySeries.size) bad += s"series files: ${files} written, ${bySeries.size} expected"
    bad.result()
  }

  /** The catalog: one JSON line per pkg, tests sorted, pkgs sorted. */
  def checkCatalogDir(out: Path, recs: Seq[Rec]): Seq[String] = {
    val want = catalog(recs)
    val parts = Files.list(out).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".json")).toSeq
    val got = parts.flatMap(p => Files.readAllLines(p).asScala).filter(_.nonEmpty).map { l =>
      val n = json.readTree(l)
      n.get("pkg").asText -> n.get("tests").elements().asScala.map(_.asText).toSeq
    }
    if (got == want) Nil else Seq(s"catalog: ${got.size} pkgs read, ${want.size} expected")
  }

  def catalog(recs: Seq[Rec]): Seq[(String, Seq[String])] =
    recs.groupBy(_.pkg).toSeq.sortBy(_._1).map { case (p, rs) =>
      p -> rs.map(_.test).distinct.sorted }

  // ---- daily: dashboard reads ---------------------------------------

  def sortedSeries(recs: Seq[Rec], pkg: String, test: String): Seq[Seq[Any]] =
    recs.filter(r => r.pkg == pkg && r.test == test).sortBy(_.day)
      .map(r => Seq(corpus.date(r.day), r.ns, r.allocs, r.bytes, r.mbs))

  def alignSeries(recs: Seq[Rec], pkg: String, a: String, b: String): Seq[Seq[Any]] = {
    def side(t: String) = recs.filter(r => r.pkg == pkg && r.test == t)
      .map(r => r.day -> r.ns).toMap
    val (sa, sb) = (side(a), side(b))
    (sa.keySet ++ sb.keySet).toSeq.sorted.map(d =>
      Seq(corpus.date(d), sa.getOrElse(d, null), sb.getOrElse(d, null)))
  }

  def pivotWide(recs: Seq[Rec], pkg: String, tests: Seq[String]): Seq[Seq[Any]] = {
    val cells = recs.filter(r => r.pkg == pkg && tests.contains(r.test))
      .map(r => (r.day, r.test) -> r.ns).toMap
    cells.keySet.map(_._1).toSeq.sorted.map(d =>
      corpus.date(d) +: tests.map(t => cells.getOrElse((d, t), null)))
  }

  /** Unordered: compared as sorted string forms. */
  def unpivot(recs: Seq[Rec], pkg: String, test: String): Seq[Seq[Any]] =
    recs.filter(r => r.pkg == pkg && r.test == test).flatMap { r =>
      Seq("ns_per_op" -> r.ns.toDouble, "allocs_per_op" -> r.allocs.toDouble,
        "bytes_per_op" -> r.bytes.toDouble, "mb_per_s" -> r.mbs).map { case (m, v) =>
        Seq(pkg, test, corpus.date(r.day), m, v) }
    }

  def priorityOrder(recs: Seq[Rec]): Seq[Seq[Any]] = {
    val prio = graft.operators.SeriesOps.ReferencePriorities.zipWithIndex.toMap
    catalog(recs).flatMap { case (p, tests) =>
      tests.sortBy(t => (prio.getOrElse(t, Int.MaxValue), t)).zipWithIndex
        .map { case (t, i) => Seq(p, t, i + 1) }
    }
  }

  // ---- daily: alerts --------------------------------------------------

  /** Expected alerts (pkg, test, day, pct_change) up to `lastDay`: the
    * >5% day-over-day rises, which by construction are exactly the
    * planted steps. */
  def alerts(recs: Seq[Rec]): Map[(String, String, LocalDate), Double] =
    recs.groupBy(r => (r.pkg, r.test)).values.flatMap { rs =>
      rs.sortBy(_.day).sliding(2).collect {
        case Seq(p, c) if (c.ns - p.ns).toDouble / p.ns > 0.05 =>
          (c.pkg, c.test, corpus.date(c.day)) ->
            BigDecimal((c.ns - p.ns).toDouble / p.ns)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }.toMap
}

object Reference {
  /** Normalize a Spark cell to the reference's value types. */
  def cell(v: Any): Any = v match {
    case d: java.sql.Date => d.toLocalDate
    case i: Int => i.toLong
    case x => x
  }

  def rows(rs: Seq[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
    rs.map(_.toSeq.map(cell))

  def norm(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rows.map(_.map { case i: Int => i.toLong; case x => x })

  def sameOrdered(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Boolean =
    norm(got) == norm(want)

  def sameUnordered(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Boolean =
    norm(got).map(_.mkString("|")).sorted == norm(want).map(_.mkString("|")).sorted
}
