package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Schemas, Sources}
import graft.queries.RefPipeline

/** The reference's own dashboard. A read is one interaction: Q1 and Q2
  * at a new date, Q3 for one zone and Q4, each collected, all against
  * the cached prepared relation. A write is one refresh: read the
  * decree CSVs, overwrite the persisted parquet tables, re-run
  * `prepData` over them, cache it and materialize it. Refreshes
  * alternate between two generated versions of the decree table, so a
  * read after a refresh that kept serving the old cache is caught. */
final class DecreeDashboard(spark: SparkSession, seed: Long) extends Workload {
  import DecreeDashboard._

  val ReadsPerRound = 3
  val roundSeconds = 10.0

  private var dir: Path = _
  private var data: DecreeData = _
  private var prepped: DataFrame = _
  private var version = 0
  private var departements: DataFrame = _
  private val rng = new scala.util.Random(seed ^ 0x5deece66dL)
  private val oracles = mutable.HashMap.empty[Int, Oracle]

  def setup(d: Path): Unit = {
    if (prepped != null) prepped.unpersist(blocking = true)
    if (departements != null) departements.unpersist(blocking = true)
    if (dir != null) deleteTree(dir)
    oracles.clear()
    dir = d
    Files.createDirectories(dir)
    data = DecreeData.generate(seed)
    data.writeCsvs(dir)
  }

  /** Both versions' answers, then the initial state (the cached
    * departments and a first refresh), then a refresh to the other
    * version and a few interactions, drawn from their own generator so
    * the timed sequence stays the same. */
  def warmUp(): Unit = {
    Seq(0, 1).foreach(v => oracles.getOrElseUpdate(v, new Oracle(data, v)).q4)
    departements = spark.createDataFrame(
      java.util.Arrays.asList(data.departements.map(x => Row(x.code, x.nom, x.geometry)): _*),
      Schemas.departements).cache()
    departements.count()
    version = 0
    refresh()
    refresh()
    val warm = new scala.util.Random(~seed)
    (1 to 2).foreach(_ => interact(Window0.plusDays(warm.nextInt(WindowDays).toLong),
      data.zones(warm.nextInt(data.zones.length)).nom)())
  }

  private def nextDate(): LocalDate = Window0.plusDays(rng.nextInt(WindowDays).toLong)
  private def nextZone(): String = data.zones(rng.nextInt(data.zones.length)).nom

  private def oracle: Oracle = oracles(version)

  /** One refresh. Returns the check that the cached relation now holds
    * exactly the prepared rows of the version just loaded. */
  private def refresh(): Check = {
    version = 1 - version
    if (prepped != null) prepped.unpersist(blocking = true)
    val (zones, arretes) = Trace.span("io.csv_read") {
      (Sources.csvWithSchema(spark, dir.resolve("zones.csv").toString, Schemas.zones),
        Sources.csvWithSchema(spark, dir.resolve(s"arretes_v$version.csv").toString, Schemas.arretes))
    }
    Trace.span("io.parquet_write") {
      Sources.overwriteParquet(zones, dir.resolve("zones.parquet").toString)
      Sources.overwriteParquet(arretes, dir.resolve("arretes.parquet").toString)
    }
    val p = Trace.span("ref.prep") {
      val df = RefPipeline.prepData(
        spark.read.parquet(dir.resolve("zones.parquet").toString),
        spark.read.parquet(dir.resolve("arretes.parquet").toString)).cache()
      df.count()
      df
    }
    prepped = p
    val o = oracle
    val expected = o.prepped.length
    () => {
      val n = p.count()
      if (n != expected) Some(s"prepared relation has $n rows, expected $expected") else None
    }
  }

  /** One interaction; the returned check compares all four answers
    * with the plain-Scala oracle. */
  private def interact(d: LocalDate, zone: String): Check = {
    val dl = lit(java.sql.Date.valueOf(d))
    val q1 = Trace.span("ref.q1")(RefPipeline.q1NbDepPerAlert(prepped, dl).collect())
    val q2 = Trace.span("ref.q2")(RefPipeline.q2MaxAlertPerDept(prepped, dl, departements).collect())
    val q3 = Trace.span("ref.q3")(RefPipeline.q3ZoneDurations(prepped, zone).collect())
    val q4 = Trace.span("ref.q4")(RefPipeline.q4SurfacePerDay(prepped).collect())
    val o = oracle
    () => o.checkQ1(d, q1).orElse(o.checkQ2(d, q2)).orElse(o.checkQ3(zone, q3)).orElse(o.checkQ4(q4))
  }

  def round(r: Int): Seq[Op] =
    Op("write", "refresh", () => refresh()) +:
      (1 to ReadsPerRound).map { _ =>
        val d = nextDate(); val z = nextZone()
        Op("read", "interaction", () => interact(d, z))
      }

  def storeBytes: Long = treeBytes(dir.resolve("zones.parquet")) + treeBytes(dir.resolve("arretes.parquet"))

  def plantedChecks(): Seq[(String, Boolean)] = {
    val o = oracle
    val d = Window0.plusDays(200)
    val zone = data.zones.head.nom
    val q1 = o.q1(d).map { case (n, nom, c) => Row(n, nom, c) }
    val q2 = o.q2(d).toSeq.map { case (code, (n, nom)) => Row(code, "", "", n, nom) }
    val q3 = o.q3(zone).map { case (id, nom, n, deb, dur) => Row(id, nom, n, java.sql.Date.valueOf(deb), dur) }
    val q4 = o.q4.map { case ((day, n, nom), s) => Row(java.sql.Date.valueOf(day), nom, n, s) }
    def rejects(c: Option[String]) = c.isDefined
    def bumpLast(rows: Seq[Row], field: Int, f: Any => Any): Seq[Row] =
      rows.init :+ Row.fromSeq(rows.last.toSeq.updated(field, f(rows.last.get(field))))
    Seq(
      "q1 answer matches the oracle (control)" -> o.checkQ1(d, q1).isEmpty,
      "q1 rejects a changed count" -> rejects(o.checkQ1(d, bumpLast(q1, 2, v => v.asInstanceOf[Long] + 1))),
      "q1 rejects a missing level" -> rejects(o.checkQ1(d, q1.init)),
      "q2 answer matches the oracle (control)" -> o.checkQ2(d, q2).isEmpty,
      "q2 rejects a department left at severity 0 wrongly" -> rejects(o.checkQ2(d,
        q2.map(r => if (r.getInt(3) > 0) Row(r.get(0), r.get(1), r.get(2), 0, null) else r).take(q2.size))),
      "q2 rejects a dropped department" -> rejects(o.checkQ2(d, q2.tail)),
      "q3 answer matches the oracle (control)" -> o.checkQ3(zone, q3).isEmpty,
      "q3 rejects an off-by-one duration" -> rejects(o.checkQ3(zone,
        if (q3.isEmpty) Seq(Row(0L, "x", 1, java.sql.Date.valueOf(d), 1)) else bumpLast(q3, 4, v => v.asInstanceOf[Int] + 1))),
      "q4 answer matches the oracle (control)" -> o.checkQ4(q4).isEmpty,
      "q4 rejects a changed surface" -> rejects(o.checkQ4(bumpLast(q4, 3, v => v.asInstanceOf[Double] + 0.01))),
      "refresh rejects a stale cached version" -> rejects(o.checkQ4(
        oracles(1 - version).q4.map { case ((day, n, nom), s) => Row(java.sql.Date.valueOf(day), nom, n, s) })))
  }
}

object DecreeDashboard {
  val Window0: LocalDate = LocalDate.of(2023, 1, 1)
  val WindowDays = 730
}

final case class Dept(code: String, nom: String, geometry: String)
final case class Zone(id: Long, nom: String, dept: String, deptNom: String, surfaceCents: Long, typ: String)
/** One generated decree row, as the CSV holds it (dates as strings, null = missing). */
final case class Arrete(zone: Long, debut: String, fin: String, niveau: Int, nomNiveau: String, statut: String)

/** The decree tables, generated from the seed on the reference schema
  * (FIXTURES.md §A) one order of magnitude beyond the reference's size
  * (order 10^3 zones and 10^4 decree rows there). Every edge case
  * of the fixtures is present: one null start date per version and, at
  * fixed rates, null end dates, the dirty '0023' year, one-day decrees,
  * severity ties within a department, decrees on unknown zones, zones
  * without decrees and departments without zones. */
final case class DecreeData(departements: Vector[Dept], zones: Vector[Zone],
                            arretes: Vector[Vector[Arrete]]) {
  def writeCsvs(dir: Path): Unit = {
    def opt(s: String) = if (s == null) "" else s
    val z = new StringBuilder("id_zone,nom_zone,code_departement,nom_departement,surface_zone,type_zone\n")
    zones.foreach { x =>
      z.append(s"${x.id},${x.nom},${x.dept},${x.deptNom},${x.surfaceCents / 100}.${f"${x.surfaceCents % 100}%02d"},${x.typ}\n")
    }
    Files.writeString(dir.resolve("zones.csv"), z.toString)
    arretes.zipWithIndex.foreach { case (rows, v) =>
      val a = new StringBuilder(
        "id_zone,debut_validite_arrete,fin_validite_arrete,numero_niveau,nom_niveau,statut_arrete\n")
      rows.foreach { r =>
        a.append(s"${r.zone},${opt(r.debut)},${opt(r.fin)},${r.niveau},${r.nomNiveau},${r.statut}\n")
      }
      Files.writeString(dir.resolve(s"arretes_v$v.csv"), a.toString)
    }
  }
}

object DecreeData {
  val NZones = 7500
  val NArretes = 100000
  val UnknownZones = 200
  val NullStartRow = 7
  val Niveaux = Vector("vigilance", "alerte", "alerte renforcée", "crise")
  val Types = Vector("SUP", "SOU", "AEP")

  def generate(seed: Long): DecreeData = {
    val rnd = new scala.util.Random(seed)
    val codes = ((1 to 95).filterNot(_ == 20).map(i => f"$i%02d") ++ Seq("2A", "2B") ++
      (971 to 976).filterNot(_ == 975).map(_.toString)).toVector
    val depts = codes.map(c => Dept(c, s"Département $c",
      s"""{"type":"Point","coordinates":[${c.hashCode % 90},${c.length}]}"""))
    // the last five departments have no zones: their severity is 0
    val withZones = codes.dropRight(5)
    val zones = (1 to NZones).toVector.map { i =>
      val c = withZones(rnd.nextInt(withZones.length))
      Zone(i.toLong, s"Zone $i Ardèche-${rnd.nextInt(1000)}", c, s"Département $c",
        100L + rnd.nextInt(99900), Types(rnd.nextInt(3)))
    }
    val firstSup = zones.find(_.typ == "SUP").map(_.id).getOrElse(1L)
    val versions = Vector.tabulate(2) { v =>
      val r = new scala.util.Random(seed * 31 + v + 1)
      Vector.tabulate(NArretes) { i =>
        // zone ids past NZones are unknown zones; the inner join drops them.
        // The one null start (filled with 1900-01-01) falls on the first
        // surface-water zone, so Q4's 45k-day explode of it is the same
        // load in every version and for every seed.
        val zone = if (i == NullStartRow) firstSup else 1L + r.nextInt(NZones + UnknownZones)
        val start = DecreeDashboard.Window0.plusDays(r.nextInt(DecreeDashboard.WindowDays - 30).toLong)
        val dur = if (i % 97 == 0) 1 else 1 + r.nextInt(30)
        val end = start.plusDays(dur - 1L)
        val niveau = 1 + r.nextInt(4)
        val debut = if (i == NullStartRow) null else start.toString
        val fin =
          if (i % 113 == 5) null
          else if (i % 131 == 3 && end.getYear == 2023) "0023" + end.toString.drop(4)
          else end.toString
        Arrete(zone, debut, fin, niveau, Niveaux(niveau - 1), if (r.nextInt(5) == 0) "Abrogé" else "Publié")
      }
    }
    DecreeData(depts, zones, versions)
  }
}

/** Q1-Q4 in plain Scala over the generated rows, on the reference
  * semantics: sentinel fills and the '0023' repair, the inclusive
  * point-in-interval test, argmax per department with `id_zone asc`
  * as the tie-break, the left join to every department with 0 for a
  * missing severity, and the SUP day-explode sum. */
final class Oracle(data: DecreeData, version: Int) {
  final case class Prep(zone: Zone, debut: LocalDate, fin: LocalDate, niveau: Int,
                        nomNiveau: String, duration: Int)

  private val zoneById = data.zones.map(z => z.id -> z).toMap

  val prepped: Vector[Prep] = data.arretes(version).flatMap { a =>
    zoneById.get(a.zone).map { z =>
      val debut = LocalDate.parse(Option(a.debut).getOrElse(RefPipeline.DebutSentinel))
      val fin = LocalDate.parse(Option(a.fin).getOrElse(RefPipeline.FinSentinel).replace("0023", "2023"))
      Prep(z, debut, fin, a.niveau, a.nomNiveau, (fin.toEpochDay - debut.toEpochDay + 1).toInt)
    }
  }

  private def top(d: LocalDate): Map[String, Prep] =
    prepped.filter(p => !p.debut.isAfter(d) && !d.isAfter(p.fin))
      .groupBy(_.zone.dept)
      .map { case (k, ps) => k -> ps.minBy(p => (-p.niveau, p.zone.id)) }

  def q1(d: LocalDate): Seq[(Int, String, Long)] =
    top(d).values.groupBy(p => (p.niveau, p.nomNiveau)).toSeq
      .map { case ((n, nom), ps) => (n, nom, ps.size.toLong) }
      .sortBy(-_._1)

  def q2(d: LocalDate): Map[String, (Int, String)] = {
    val t = top(d)
    data.departements.map { dep =>
      dep.code -> t.get(dep.code).map(p => (p.niveau, p.nomNiveau)).getOrElse((0, null))
    }.toMap
  }

  def q3(zone: String): Seq[(Long, String, Int, LocalDate, Int)] =
    prepped.filter(_.zone.nom == zone)
      .map(p => (p.zone.id, p.nomNiveau, p.niveau, p.debut, p.duration))
      .sortBy(x => (x._1, x._4.toEpochDay, x._3, x._5))

  /** (day, level, level name) -> exact surface sum, in Q4's order. */
  lazy val q4: Seq[((LocalDate, Int, String), Double)] = {
    // keyed by (day, level, level name), packed as day * 8 + level with
    // the name kept per level: every generated level has one name
    val acc = mutable.LongMap.empty[Long]
    val names = mutable.HashMap.empty[Int, String]
    prepped.filter(_.zone.typ == "SUP").foreach { p =>
      require(names.getOrElseUpdate(p.niveau, p.nomNiveau) == p.nomNiveau, s"level ${p.niveau} has two names")
      var day = p.debut.toEpochDay
      while (day <= p.fin.toEpochDay) {
        val k = day * 8 + p.niveau
        acc(k) = acc.getOrElse(k, 0L) + p.zone.surfaceCents
        day += 1
      }
    }
    acc.toSeq.sortBy(_._1).map { case (k, cents) =>
      val n = Math.floorMod(k, 8L).toInt
      ((LocalDate.ofEpochDay(Math.floorDiv(k, 8L)), n, names(n)), BigDecimal(cents, 2).toDouble)
    }
  }

  private def date(v: Any): LocalDate = v.asInstanceOf[java.sql.Date].toLocalDate

  def checkQ1(d: LocalDate, rows: Seq[Row]): Option[String] = {
    val got = rows.map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val want = q1(d)
    if (got != want) Some(s"q1 at $d: got $got, expected $want") else None
  }

  def checkQ2(d: LocalDate, rows: Seq[Row]): Option[String] = {
    // (code, nom, geometry, numero_niveau, nom_niveau)
    val got = rows.map(r => r.getString(0) -> ((r.getInt(3), r.getString(4))))
    val want = q2(d)
    if (got.size != want.size || got.toMap != want)
      Some(s"q2 at $d: ${got.size} rows, ${got.toMap.toSet.diff(want.toSet).take(3)} differ")
    else None
  }

  def checkQ3(zone: String, rows: Seq[Row]): Option[String] = {
    val got = rows.map(r => (r.getLong(0), r.getString(1), r.getInt(2), date(r.get(3)), r.getInt(4)))
      .sortBy(x => (x._1, x._4.toEpochDay, x._3, x._5))
    val want = q3(zone)
    if (got != want) Some(s"q3 for $zone: got ${got.size} rows, expected ${want.size}") else None
  }

  def checkQ4(rows: Seq[Row]): Option[String] = {
    val got = rows.map(r => ((date(r.get(0)), r.getInt(2), r.getString(1)), r.getDouble(3)))
    if (got != q4) {
      val firstDiff = got.zip(q4).find { case (a, b) => a != b }
      Some(s"q4: ${got.size} rows vs ${q4.size}; first difference $firstDiff")
    } else None
  }
}
