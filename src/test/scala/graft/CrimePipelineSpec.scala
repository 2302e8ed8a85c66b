package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.{Calendar, Locale}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.{col, to_date}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.CrimePipeline
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Differential test of the full reference pipeline on a crime-shaped CSV
  * fixture (FIXTURES.md §B): the expected values are computed by an
  * independent plain-Scala implementation using java.util.Calendar — the
  * same ground truth the reference's awk script provided (SURVEY §5.1). */
class CrimePipelineSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark.spark

  // fixture: header, quoted embedded commas, short row, bad date,
  // 2013-03-31 (Sunday, week-of-month 6 -> bucket 16), duplicate combos
  private val rows = Seq(
    """IncidntNum,Category,Descript,DayOfWeek,Date,Time,PdDistrict,Resolution,Address,X,Y,Location""",
    """001,LARCENY/THEFT,"GRAND THEFT FROM LOCKED AUTO, ATTEMPTED",Wednesday,01/02/2013 10:00,10:00,MISSION,NONE,800 Block,-122.4,37.7,"(37.7, -122.4)"""",
    """002,LARCENY/THEFT,PETTY THEFT,Wednesday,01/02/2013 11:00,11:00,MISSION,NONE,900 Block,-122.4,37.7,"(37.7, -122.4)"""",
    """003,ASSAULT,BATTERY,Thursday,01/10/2013 20:00,20:00,SOUTHERN,ARREST,100 Block,-122.4,37.7,"(37.7, -122.4)"""",
    """004,ASSAULT,BATTERY,Sunday,03/31/2013 02:00,02:00,TENDERLOIN,NONE,200 Block,-122.4,37.7,"(37.7, -122.4)"""",
    """005,VANDALISM,GRAFFITI,Friday,02/15/2013 09:30,09:30,RICHMOND,NONE,300 Block,-122.4,37.7,"(37.7, -122.4)"""",
    """006,short row""",
    """007,BURGLARY,ENTRY,Monday,not-a-date,12:00,MISSION,NONE,400 Block,-122.4,37.7,"(37.7, -122.4)"""")

  private case class Incident(category: String, district: String, date: String)

  /** Independent reimplementation: tiny quote-aware CSV split + Calendar.
    * Splits data rows (header excluded) into the clean incidents and the
    * dropped rows as (IncidntNum, reason), with the first failing rule. */
  private def expected(dataRows: Seq[String]): (Seq[Incident], Seq[(String, String)]) = {
    val tagged = dataRows.map { line =>
      val cols = splitCsv(line).map(c => if (c.isEmpty) null else c)
      def at(i: Int) = if (i < cols.length) cols(i) else null
      val d = Option(at(4)).map(_.split(" ").head).orNull
      val parts = Option(d).map(_.split("/")).getOrElse(Array.empty[String])
      val reason =
        if (at(1) == null) Some("missing_category")
        else if (at(6) == null) Some("missing_district")
        else if (parts.length != 3 || parts.exists(p => p.isEmpty || !p.forall(_.isDigit)))
          Some("bad_date")
        else None
      reason match {
        case Some(r) => Left(at(0) -> r)
        case None => Right(Incident(at(1), at(6), d))
      }
    }
    (tagged.collect { case Right(i) => i }, tagged.collect { case Left(b) => b })
  }

  private lazy val (incidents, dropped) = expected(rows.drop(1))

  private def splitCsv(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inQ = false
    line.foreach {
      case '"' => inQ = !inQ
      case ',' if !inQ => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.toArray
  }

  private def bucketOf(mmddyyyy: String): Int = {
    val Array(m, d, y) = mmddyyyy.split("/").map(_.toInt)
    val cal = Calendar.getInstance(Locale.US)
    cal.clear(); cal.set(y, m - 1, d)
    cal.get(Calendar.MONTH) * 5 + cal.get(Calendar.WEEK_OF_MONTH)
  }

  private lazy val csvPath = {
    val p = Paths.get("/tmp/graft_crime_fixture.csv")
    Files.write(p, rows.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  test("P3/P4: header, short and bad-date rows dropped; quoted commas survive") {
    val crime = CrimePipeline.readCrimeCsv(spark, csvPath)
    assert(crime.count() == incidents.length)   // 5 good rows
    val descripts = crime.select("Descript").collect().map(_.getString(0)).toSet
    assert(descripts.contains("GRAND THEFT FROM LOCKED AUTO, ATTEMPTED"))
  }

  test("P4 side channel: dropped rows are accounted for, with reasons") {
    val tagged = CrimePipeline.readCrimeCsvTagged(spark, csvPath)
    val bad = CrimePipeline.badRecords(spark, csvPath)
    // conservation: every data row is exactly clean or dropped
    assert(tagged.count() == rows.length - 1) // header excluded
    assert(CrimePipeline.readCrimeCsv(spark, csvPath).count() + bad.count()
      == rows.length - 1)
    val reasons = bad.collect()
      .map(r => r.getString(r.fieldIndex("IncidntNum")) ->
        r.getString(r.fieldIndex("bad_reason"))).toMap
    assert(reasons == Map("006" -> "missing_district", "007" -> "bad_date"))
    assert(reasons == dropped.toMap)
    // runAll writes the audit next to the data outputs
    val out = "/tmp/graft_crime_badrec"
    CrimePipeline.runAll(spark, csvPath, out)
    val audit = spark.read.option("sep", "\t").csv(s"$out/badrecords")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(audit == reasons)
  }

  test("A2: weekly histograms match the Calendar-based oracle, incl. bucket 16") {
    val got = CrimePipeline.weeklyCounts(
        CrimePipeline.readCrimeCsv(spark, csvPath), "Category")
      .collect().map(r => r.getString(0) -> (1 to 17).map(r.getLong)).toMap
    val want = incidents.groupBy(_.category).map { case (cat, incs) =>
      val counts = Array.fill(17)(0L)
      incs.foreach(i => counts(bucketOf(i.date)) += 1)
      cat -> counts.toSeq
    }
    assert(got == want)
    // the aliasing edge: 03/31/2013 must land in bucket 16
    assert(got("ASSAULT")(16) == 1L)
  }

  test("A3/A6: daily triplets carry 0-based sorted-rank dictionary ids") {
    val crime = CrimePipeline.readCrimeCsv(spark, csvPath)
    // job 1's histogram keys, in output order, are job 2's dictionaries
    import spark.implicits._
    def ids(column: String, idx: String) = CrimePipeline.weeklyCounts(crime, column)
      .collect().map(_.getString(0)).toSeq.zipWithIndex.toDF(column, idx)
    val got = CrimePipeline.dailyTriplets(crime, ids("Category", "cat_idx"),
        ids("PdDistrict", "dist_idx"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    val cats = incidents.map(_.category).distinct.sorted.zipWithIndex.toMap
    val dists = incidents.map(_.district).distinct.sorted.zipWithIndex.toMap
    val want = incidents.groupBy(i => (i.date, i.category, i.district))
      .map { case ((d, c, t), is) =>
        val Array(m, dd, y) = d.split("/")
        (s"$y/$m/$dd", cats(c), dists(t)) -> is.length.toLong
      }
    assert(got == want)
    assert(got(("2013/01/02", cats("LARCENY/THEFT"), dists("MISSION"))) == 2L)
  }

  test("golden: pipeline outputs are byte-stable against pinned goldens") {
    val out = "/tmp/graft_crime_golden"
    CrimePipeline.runAll(spark, csvPath, out)
    def lines(dir: String): Seq[String] =
      spark.read.text(dir).collect().map(_.getString(0)).sorted.toSeq
    def golden(name: String): Seq[String] =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"src/test/resources/golden/$name.tsv")), "UTF-8")
        .linesIterator.filter(_.nonEmpty).toSeq.sorted
    assert(lines(s"$out/bycategory") == golden("bycategory"))
    assert(lines(s"$out/bydistrict") == golden("bydistrict"))
    assert(lines(s"$out/star") == golden("star"))
  }

  test("S4: TSV sink emits the part-00000 row shape") {
    val out = "/tmp/graft_crime_out"
    CrimePipeline.runAll(spark, csvPath, out)
    val lines = spark.read.text(s"$out/bycategory").collect().map(_.getString(0))
    assert(lines.forall(_.matches("""[^\t]+\t\d+(,\d+){16}""")))
    val star = spark.read.text(s"$out/star").collect().map(_.getString(0))
    assert(star.forall(_.matches("""\d{4}/\d{2}/\d{2}\t\d+,\d+,\d+""")))
  }

  private val fixture = "src/test/resources/fixtures/crime.csv"

  /** The `part-*` files of one output directory, by name. */
  private def partFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)

  private def outputLines(dir: String): Seq[String] =
    partFiles(dir).flatMap(f =>
      Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala)

  test("runAll on the 1505-row fixture: job 2's ids are job 1's line numbers; " +
      "all four outputs match the plain-Scala oracle") {
    val out = "/tmp/graft_crime_fixture_run"
    CrimePipeline.runAll(spark, fixture, out)
    val Seq(bycategory, bydistrict, star, badrecords) =
      Seq("bycategory", "bydistrict", "star", "badrecords").map(d => outputLines(s"$out/$d"))
    val (clean, bad) = expected(Files.readAllLines(
      Paths.get(fixture), StandardCharsets.UTF_8).asScala.toSeq.drop(1))
    assert(clean.length == 1500 && bad.length == 5)

    def histogram(key: Incident => String): Seq[String] =
      clean.groupBy(key).toSeq.sortBy(_._1).map { case (k, incs) =>
        val counts = Array.fill(17)(0L)
        incs.map(i => bucketOf(i.date)).filter(_ < 17).foreach(counts(_) += 1)
        s"$k\t${counts.mkString(",")}"
      }
    def starLines(cats: Map[String, Int], dists: Map[String, Int]): Seq[String] =
      clean.groupBy(i => (i.date, cats(i.category), dists(i.district))).toSeq
        .map { case ((d, c, t), is) =>
          val Array(m, dd, y) = d.split("/")
          (s"$y/$m/$dd", c, t, is.length)
        }
        .sorted.map { case (d, c, t, n) => s"$d\t$c,$t,$n" }
    def lineNumbers(lines: Seq[String]) = lines.map(_.split("\t")(0)).zipWithIndex.toMap
    def sortedIds(key: Incident => String) = clean.map(key).distinct.sorted.zipWithIndex.toMap

    // the reference's DataFile.extractKeys contract: an id is the key's
    // 0-based line in job 1's output file
    assert(star == starLines(lineNumbers(bycategory), lineNumbers(bydistrict)))
    assert(bycategory == histogram(_.category))
    assert(bydistrict == histogram(_.district))
    assert(star == starLines(sortedIds(_.category), sortedIds(_.district)))
    assert(badrecords.sorted == bad.map { case (id, r) => s"$id\t$r" }.sorted)
  }

  test("runAll writes each keyed output as one part file in key order") {
    val out = "/tmp/graft_crime_fixture_order"
    CrimePipeline.runAll(spark, fixture, out)
    for (name <- Seq("bycategory", "bydistrict", "star")) {
      val parts = partFiles(s"$out/$name")
      assert(parts.length == 1 && parts.head.length > 0, s"$name: $parts")
    }
    def keys(name: String) = outputLines(s"$out/$name").map(_.split("\t")(0))
    for (name <- Seq("bycategory", "bydistrict")) {
      val ks = keys(name)
      assert(ks.nonEmpty && ks == ks.sorted && ks.distinct == ks, name)
    }
    val star = outputLines(s"$out/star").map { line =>
      val Array(d, triplet) = line.split("\t")
      val Array(c, t, _) = triplet.split(",").map(_.toInt)
      (d, c, t)
    }
    assert(star.length > 1 && star == star.sorted && star.distinct == star)
  }

  test("runAll leaves nothing cached, also when a write fails") {
    val sc = spark.sparkContext
    val cacheManager = spark.sharedState.cacheManager
    // other suites share this session: drop their cached frames (they
    // recompute on use) and compare persisted RDDs against a snapshot
    spark.catalog.clearCache()
    val persisted = sc.getPersistentRDDs.keySet.toSet
    CrimePipeline.runAll(spark, fixture, "/tmp/graft_crime_fixture_cache")
    assert(cacheManager.isEmpty)
    assert(sc.getPersistentRDDs.keySet.toSet == persisted)

    val file = Files.createTempFile("graft_crime_not_a_dir", ".txt")
    try {
      intercept[Exception](CrimePipeline.runAll(spark, fixture, s"$file/out"))
      assert(cacheManager.isEmpty)
      assert(sc.getPersistentRDDs.keySet.toSet == persisted)
    } finally Files.delete(file)
  }

  /** The physical plans of every query `body` executes, final AQE plans
    * included, in execution order. Listener events arrive asynchronously;
    * `last` names the output directory of `body`'s last write, whose plan
    * arrives after all the others. */
  private def executedPlans(last: String)(body: => Unit): Seq[SparkPlan] = {
    val seen = mutable.ArrayBuffer[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.synchronized(seen.exists(writesTo(_, last))) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toList)
  }

  /** Whether `plan` writes files into a directory named `name`. */
  private def writesTo(plan: SparkPlan, name: String): Boolean =
    collect(plan) {
      case w: DataWritingCommandExec => w.cmd
    }.exists {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName == name
      case _ => false
    }

  test("runAll: one shuffle per output, no range-partitioned sort; " +
      "the star writer sorts on one long key") {
    val out = "/tmp/graft_crime_fixture_plans"
    val plans = executedPlans("badrecords") {
      CrimePipeline.runAll(spark, fixture, out)
    }
    Seq("bycategory", "bydistrict", "star", "badrecords").foreach(name =>
      assert(plans.exists(writesTo(_, name)), name))
    val rangeShuffles = plans.flatMap(p => collect(p) {
      case e: ShuffleExchangeLike
        if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    })
    assert(rangeShuffles.isEmpty, rangeShuffles.mkString("\n"))
    for (p <- plans) {
      val aggregateShuffles = collect(p) {
        case e: ShuffleExchangeLike
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(aggregateShuffles.length <= 1, p.treeString)
    }
    val starPlans = plans.filter(writesTo(_, "star"))
    assert(starPlans.length == 1)
    val sorts = collect(starPlans.head) { case s: SortExec => s }
    assert(sorts.length == 1, starPlans.head.treeString)
    assert(sorts.head.sortOrder.map(_.dataType) == Seq(LongType),
      sorts.head.sortOrder.mkString(", "))
  }

  test("dayCellKey orders rows exactly as (day, cat_idx, dist_idx)") {
    import spark.implicits._
    val days = Seq("0001-01-01", "1899-12-31", "1900-01-01", "1969-12-30",
      "1969-12-31", "1970-01-01", "1970-01-02", "2012-12-31", "2013-01-01",
      "9999-12-31")
    for ((nCats, nDists) <- Seq((1, 1), (3, 2), (40, 11), (100000, 100000))) {
      val ids = (n: Int) => Seq(0, 1, n - 2, n - 1).filter(i => i >= 0 && i < n).distinct
      val cells = for (d <- days; c <- ids(nCats); t <- ids(nDists)) yield (d, c, t)
      val keyed = new scala.util.Random(7).shuffle(cells).toDF("day", "c", "t")
        .select(col("day"), col("c"), col("t"),
          CrimePipeline.dayCellKey(to_date(col("day")), col("c"), col("t"),
            nCats, nDists).as("k"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
      assert(keyed.map(_._2).distinct.length == cells.length)
      assert(keyed.sortBy(_._2).map(_._1).toSeq == cells.sorted, s"$nCats x $nDists")
    }
  }

  test("runAll: days before 1970 and across year boundaries land in star in order") {
    val header = rows.head
    def row(id: String, cat: String, date: String, dist: String) =
      s"$id,$cat,DESC,Monday,$date 10:00,10:00,$dist,NONE,1 Block,-122.4,37.7," +
        "\"(37.7, -122.4)\""
    val data = Seq(
      row("101", "VANDALISM", "01/01/2013", "TARAVAL"),
      row("102", "ARSON", "12/31/1969", "BAYVIEW"),
      row("103", "VANDALISM", "12/31/1969", "TARAVAL"),
      row("104", "ARSON", "01/01/1970", "TARAVAL"),
      row("105", "ASSAULT", "06/15/1955", "BAYVIEW"),
      row("106", "VANDALISM", "12/31/2012", "BAYVIEW"),
      row("107", "ARSON", "12/31/2012", "TARAVAL"),
      row("108", "ARSON", "12/31/1969", "BAYVIEW"))
    val csv = Files.createTempFile("graft_crime_epoch", ".csv")
    try {
      Files.write(csv, (header +: data).mkString("\n").getBytes("UTF-8"))
      val out = "/tmp/graft_crime_epoch_run"
      CrimePipeline.runAll(spark, csv.toString, out)
      val (clean, _) = expected(data)
      val cats = clean.map(_.category).distinct.sorted.zipWithIndex.toMap
      val dists = clean.map(_.district).distinct.sorted.zipWithIndex.toMap
      val want = clean.groupBy(i => (i.date, cats(i.category), dists(i.district)))
        .toSeq.map { case ((d, c, t), is) =>
          val Array(m, dd, y) = d.split("/")
          (s"$y/$m/$dd", c, t, is.length)
        }
        .sorted.map { case (d, c, t, n) => s"$d\t$c,$t,$n" }
      assert(want.head == "1955/06/15\t1,0,1" && want(1) == "1969/12/31\t0,0,2")
      assert(outputLines(s"$out/star") == want)
    } finally Files.delete(csv)
  }
}
