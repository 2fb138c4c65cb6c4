package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.util.Random

/** Size of one synthetic EDGAR quarter.
  *
  * Fact cost grows with the square of filings per filing day (the
  * many-to-many `dim_filings` join on (StatementType, FiledDate)), so the
  * shape is set by `filings / days`. `dimRows` adds `num` rows that have no
  * `pre` row (EDGAR's dimensional facts): ingest and the document model
  * carry them, the facts never see them.
  */
final case class EdgarShape(filings: Int, days: Int, presentedTags: Int,
                            customTags: Int, dimRows: Int, tagPool: Int,
                            planted: Int, malformed: Int)

/** What the generator wrote: rows per file, rows that cannot parse, and the
  * violations planted for every check of `Checks.edgarSuite`.
  */
final case class EdgarManifest(lines: Map[String, Long], malformed: Map[String, Long],
                               violations: Map[String, Long], tsvBytes: Long) {
  def landed(table: String): Long = lines(table) - malformed(table)
}

/** Seeded generator of the four EDGAR Financial Statement TSVs (`sub`, `tag`,
  * `num`, `pre`) in the SEC's tab-separated layout: the full 36-column `sub`,
  * custom tags whose `version` is the filing's `adsh`, `qtrs` 0/4 duplicate
  * facts, empty and `NULL` fields that reach the staging sentinels, and a
  * planted number of malformed rows and of violations of each dbt test.
  */
object EdgarGen {
  private val Ymd = DateTimeFormatter.ofPattern("yyyyMMdd")
  private val Stmts = Vector("BS", "BS", "IS", "IS", "CF", "CF", "EQ", "CI")
  private val States = Vector("CA", "NY", "TX", "WA", "DE", "IL", "MA", "NULL", "")
  private val Quarter0 = LocalDate.of(2024, 1, 2)

  def generate(dir: Path, seed: Long, shape: EdgarShape): EdgarManifest = {
    Files.createDirectories(dir)
    // the seed draws values (amounts, addresses, identifiers); the shape of
    // the quarter (which tags each filing presents, statements, units,
    // empty fields) comes from a fixed stream, so every seed asks the
    // pipeline for the same joins and the same work
    val r = new Random(seed)
    val k = new Random(0x5EEDL)
    val sub, tag, num, pre = new StringBuilder
    sub ++= graft.schema.EdgarSchemas.sub.fieldNames.mkString("\t") += '\n'
    tag ++= graft.schema.EdgarSchemas.tag.fieldNames.mkString("\t") += '\n'
    num ++= graft.schema.EdgarSchemas.num.fieldNames.mkString("\t") += '\n'
    pre ++= graft.schema.EdgarSchemas.pre.fieldNames.mkString("\t") += '\n'
    val lines = scala.collection.mutable.Map("sub" -> 0L, "tag" -> 0L, "num" -> 0L, "pre" -> 0L)
    def emit(t: String, sb: StringBuilder, cells: Seq[Any]): Unit = {
      sb ++= cells.mkString("\t") += '\n'
      lines(t) += 1
    }
    val v = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val P = shape.planted

    def subRow(adsh: String, cik: Any, name: String, filed: LocalDate, fy: Any,
               period: String, nciks: Any = 1, aciks: String = "",
               accepted: String = null): Seq[Any] = {
      val st = States(k.nextInt(States.size))
      Seq(adsh, cik, name, 1000 + r.nextInt(8999),
        if (k.nextInt(10) == 0) "" else "US", st,
        if (k.nextInt(12) == 0) "" else s"CITY${r.nextInt(40)}",
        if (k.nextInt(8) == 0) "" else f"${r.nextInt(99999)}%05d",
        if (k.nextInt(15) == 0) "NULL" else s"${r.nextInt(999)} MAIN ST",
        if (k.nextInt(3) == 0) s"SUITE ${r.nextInt(900)}" else "",
        if (k.nextInt(6) == 0) "" else f"(${r.nextInt(900) + 100}) 555-${r.nextInt(10000)}%04d",
        "US", st, s"CITY${r.nextInt(40)}", f"${r.nextInt(99999)}%05d",
        s"${r.nextInt(999)} MAIL RD", "", "US", "DE", 100000000L + r.nextInt(899999999),
        if (k.nextInt(10) == 0) s"OLD $name" else "",
        if (k.nextInt(10) == 0) "20190101" else "",
        "1-LAF", k.nextInt(2), "1231", if (k.nextBoolean()) "10-K" else "10-Q",
        period, fy, if (k.nextBoolean()) "FY" else "Q4", filed.format(Ymd),
        Option(accepted).getOrElse(s"$filed ${10 + r.nextInt(8)}:${10 + r.nextInt(49)}:${10 + r.nextInt(49)}"),
        k.nextInt(2), 1, s"tk${r.nextInt(500)}-20231231.htm", nciks, aciks)
    }
    def tagRow(t: String, ver: String, custom: Int, datatype: String = "decimal",
               iord: String = null, crdr: String = null): Seq[Any] =
      Seq(t, ver, custom, 0, datatype,
        Option(iord).getOrElse(if (k.nextBoolean()) "I" else "D"),
        Option(crdr).getOrElse(Seq("C", "D", "")(k.nextInt(3))),
        if (k.nextInt(8) == 0) "" else s"Label of $t",
        s"Documentation of $t.")
    def randomValue(): String = f"${r.nextInt(100000000)}.${r.nextInt(10000)}%04d"
    def numRow(adsh: String, t: String, ver: String, ddate: String, qtrs: Any,
               uom: String = "USD", segments: String = "", value: String = randomValue()): Seq[Any] =
      Seq(adsh, t, ver, ddate, qtrs, uom, segments, "", value,
        if (k.nextInt(20) == 0) "see note" else "")
    def preRow(adsh: String, line: Any, stmt: String, t: String, ver: String,
               report: Any = 1 + k.nextInt(6), rfile: String = null,
               plabel: String = null): Seq[Any] =
      Seq(adsh, report, line, stmt, 0, Option(rfile).getOrElse(if (k.nextBoolean()) "H" else "X"),
        t, ver, Option(plabel).getOrElse(if (k.nextInt(6) == 0) "" else s"Presented $t"),
        k.nextInt(2))

    // the taxonomy: one standard pool shared by every filing
    val std = "us-gaap/2024"
    val pool = (0 until shape.tagPool).map(i => f"Tag$i%03d")
    pool.foreach(t => emit("tag", tag, tagRow(t, std, 0)))

    // filings
    val companies = math.max(1, shape.filings * 4 / 5)
    val adshs = (0 until shape.filings).map { i =>
      val cik = 1000L + (i % companies)
      val adsh = f"$cik%010d-24-$i%06d"
      val filed = Quarter0.plusDays(i % shape.days)
      // a tenth of the filings carry no period and fy 0: the null-date
      // sentinel path, allowed by the singular test but outside fy's range
      val noPeriod = i % 10 == 9
      if (noPeriod) v("sub.fy.between_1900_2100") += 1
      emit("sub", sub, subRow(adsh, cik, f"COMPANY $cik%d INC", filed,
        if (noPeriod) 0 else 2023, if (noPeriod) "" else "20231231",
        aciks = if (k.nextInt(5) == 0) s"${cik + 1},${cik + 2}" else ""))
      val ddate = "20231231"
      val shown = k.shuffle(pool).take(shape.presentedTags)
      val customs = (0 until shape.customTags).map(c => s"Custom$c")
      customs.foreach(t => emit("tag", tag, tagRow(t, adsh, 1)))
      val presented = shown.map(_ -> std) ++ customs.map(_ -> adsh)
      presented.zipWithIndex.foreach { case ((t, ver), line) =>
        val stmt = Stmts(k.nextInt(Stmts.size))
        emit("pre", pre, preRow(adsh, line + 1, stmt, t, ver))
        val uom = if (k.nextInt(10) == 0) "shares" else "USD"
        emit("num", num, numRow(adsh, t, ver, ddate, if (stmt == "BS") 0 else 1, uom))
        // the year-to-date twin of a quarterly fact: same key, qtrs 4
        if (k.nextInt(5) == 0) emit("num", num, numRow(adsh, t, ver, ddate, 4, uom))
      }
      // dimensional facts: tags this filing does not present
      val hidden = pool.filterNot(shown.toSet)
      (0 until shape.dimRows).foreach { d =>
        val t = hidden(k.nextInt(hidden.size))
        emit("num", num, numRow(adsh, t, std, ddate, 4, segments = s"Segment=Member$d;"))
      }
      adsh
    }

    // planted violations, one defect per row
    def plant(check: String, n: Int = P)(row: Int => Unit): Unit =
      (0 until n).foreach { i => row(i); v(check) += 1 }
    val day0 = Quarter0
    var plantedFilings = 0
    def nextPlanted(): String = {
      plantedFilings += 1
      f"9999999999-24-$plantedFilings%06d"
    }
    plant("sub.adsh.unique") { i =>
      val row = subRow(nextPlanted(), 9999L, "DUPLICATE FILER", day0, 2023, "20231231")
      emit("sub", sub, row); emit("sub", sub, row)
    }
    plant("sub.adsh.not_null")(i => emit("sub", sub, subRow("", 9998L, "NO ADSH", day0, 2023, "20231231")))
    // the null adsh rows form one more group seen twice
    if (P > 1) v("sub.adsh.unique") += 1
    plant("sub.cik.not_null")(i => emit("sub", sub, subRow(nextPlanted(), "", "NO CIK", day0, 2023, "20231231")))
    plant("sub.name.not_null")(i => emit("sub", sub, subRow(nextPlanted(), 9997L, "", day0, 2023, "20231231")))
    plant("sub.fy.between_1900_2100")(i => emit("sub", sub, subRow(nextPlanted(), 9996L, "OLD FY", day0, 1850, "18501231")))
    plant("sub.filed.not_null") { i =>
      val row = subRow(nextPlanted(), 9995L, "NO FILED", day0, 2023, "20231231")
      emit("sub", sub, row.updated(29, ""))
    }
    plant("sub.accepted.not_null") { i =>
      emit("sub", sub, subRow(nextPlanted(), 9994L, "NO ACCEPTED", day0, 2023, "20231231", accepted = ""))
    }
    plant("sub.nciks.not_null")(i => emit("sub", sub, subRow(nextPlanted(), 9993L, "NO NCIKS", day0, 2023, "20231231", nciks = "")))
    plant("sub.aciks.regex")(i => emit("sub", sub, subRow(nextPlanted(), 9992L, "BAD ACIKS", day0, 2023, "20231231", aciks = "12a,34")))
    plant("sub.period.not_null_except_fy0")(i => emit("sub", sub, subRow(nextPlanted(), 9991L, "NO PERIOD", day0, 2023, "")))

    plant("tag.tag.not_null")(i => emit("tag", tag, tagRow("", s"planted/v$i", 0)))
    plant("tag.version.not_null")(i => emit("tag", tag, tagRow(s"NoVersion$i", "", 0)))
    plant("tag.datatype.regex")(i => emit("tag", tag, tagRow(s"BadType$i", std, 0, datatype = "monetary")))
    plant("tag.iord.accepted")(i => emit("tag", tag, tagRow(s"BadIord$i", std, 0, iord = "X")))
    plant("tag.crdr.accepted")(i => emit("tag", tag, tagRow(s"BadCrdr$i", std, 0, crdr = "Z")))
    plant("tag.tag_version.unique") { i =>
      val row = tagRow(s"Twice$i", std, 0)
      emit("tag", tag, row); emit("tag", tag, row)
    }

    val someAdsh = (i: Int) => adshs(i % adshs.size)
    plant("num.tag.not_null")(i => emit("num", num, numRow(someAdsh(i), "", std, "20231231", 4, segments = "Planted")))
    plant("num.version.not_null")(i => emit("num", num, numRow(someAdsh(i), pool(i), "", "20231231", 4, segments = "Planted")))
    plant("num.ddate.not_null")(i => emit("num", num, numRow(someAdsh(i), pool(i), std, "", 4, segments = "Planted")))
    plant("num.value.between_0_1e9")(i => emit("num", num, numRow(someAdsh(i), pool(i), std, "20231231", 4,
      segments = "Planted", value = "2000000000.5000")))
    plant("num.adsh.fk_sub")(i => emit("num", num, numRow(f"0000000000-00-$i%06d", pool(i), std, "20231231", 4)))
    plant("num.tag_version.fk_tag")(i => emit("num", num, numRow(someAdsh(i), s"Orphan$i", std, "20231231", 4,
      segments = "Planted")))

    plant("pre.report.not_null")(i => emit("pre", pre, preRow(someAdsh(i), 900 + i, "UN", s"Custom0", someAdsh(i), report = "")))
    plant("pre.stmt.accepted")(i => emit("pre", pre, preRow(someAdsh(i), 910 + i, "XX", pool(i), std)))
    plant("pre.rfile.accepted")(i => emit("pre", pre, preRow(someAdsh(i), 920 + i, "UN", pool(i), std, rfile = "Q")))
    plant("pre.tag.not_null")(i => emit("pre", pre, preRow(someAdsh(i), 930 + i, "UN", "", std)))
    plant("pre.plabel.length")(i => emit("pre", pre, preRow(someAdsh(i), 940 + i, "UN", pool(i), std,
      plabel = "L" * 600)))
    plant("pre.adsh.fk_sub")(i => emit("pre", pre, preRow(f"0000000000-00-$i%06d", 1, "BS", pool(i), std)))
    plant("pre.tag_version.fk_tag")(i => emit("pre", pre, preRow(someAdsh(i), 950 + i, "UN", s"Orphan$i", std)))

    // malformed rows: a cell that cannot parse as its declared type
    val bad = scala.collection.mutable.Map("sub" -> 0L, "tag" -> 0L, "num" -> 0L, "pre" -> 0L)
    (0 until shape.malformed).foreach { i =>
      emit("sub", sub, subRow(nextPlanted(), "cik?", "MALFORMED", day0, 2023, "20231231")); bad("sub") += 1
      emit("tag", tag, tagRow(s"Malformed$i", std, 0).updated(2, "yes")); bad("tag") += 1
      emit("num", num, numRow(adshs(i), pool(i), std, "20231231", 4, value = "n/a")); bad("num") += 1
      emit("pre", pre, preRow(adshs(i), "L1", "BS", pool(i), std)); bad("pre") += 1
    }

    var bytes = 0L
    Seq("sub" -> sub, "tag" -> tag, "num" -> num, "pre" -> pre).foreach { case (n, sb) =>
      val b = sb.toString.getBytes(UTF_8)
      bytes += b.length
      Files.write(dir.resolve(s"$n.txt"), b)
    }
    val suite = checkNames
    EdgarManifest(lines.toMap, bad.toMap, suite.map(c => c -> v(c)).toMap, bytes)
  }

  /** Names of `Checks.edgarSuite`, in suite order. Seven of them are planted
    * zero times, because no violating row survives a typed load: booleans
    * are cast from 0/1 integers (the five `accepted` checks on booleans),
    * dates re-render as yyyy-MM-dd (`sub.period.regex`), and an empty doc
    * becomes null (`tag.doc.length`).
    */
  lazy val checkNames: Seq[String] = {
    import org.apache.spark.sql.types._
    // the suite only builds plans; empty frames are enough to list it
    val s = org.apache.spark.sql.SparkSession.active
    def empty(t: StructType) = s.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), t)
    val sch = graft.schema.EdgarSchemas
    def typed(t: StructType, bools: Seq[String]) = StructType(t.fields.map(f =>
      if (bools.contains(f.name)) f.copy(dataType = BooleanType) else f))
    graft.quality.Checks.edgarSuite(
      empty(typed(sch.sub, sch.subBoolCols)), empty(typed(sch.tag, sch.tagBoolCols)),
      empty(sch.num), empty(typed(sch.pre, sch.preBoolCols))).map(_._1)
  }
}
