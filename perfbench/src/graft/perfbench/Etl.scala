package graft.perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.enrich._
import graft.pipeline.Pipeline
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable

/** One vacancy row as generated; `None` salary and `null` text are blanks. */
final case class Vac(id: Long, title: String, field: String, date: String, salary: Option[Long]) {
  def csv: String = Seq(id.toString, Option(title).getOrElse(""), Option(field).getOrElse(""),
    date, salary.map(_.toString).getOrElse("")).mkString(",")
}

/** Seeded generator of daily vacancy CSVs. Days must be drawn in order:
  * cross-day repeats copy rows of the three previous days.
  *
  * Shape: Zipf-skewed titles built from the reference title vocabulary plus
  * titles no rule matches; low-cardinality field values, some compound
  * ("a. b", "a/b"); blank keys; within-day and cross-day repeats, both of
  * whole rows and of ids with new content. No value holds a comma (the
  * classifier prompt joins keys with ", ").
  */
final class EtlGen(seed: Long, val rowsPerDay: Int) {
  private val rnd = new java.util.SplittableRandom(seed)

  private val titles: Array[String] = {
    val bases = Rules.referenceTitleRules.flatMap(_.keywords) ++ Seq("курьер", "повар",
      "водитель", "бухгалтер", "юрист", "дизайнер интерфейсов", "кладовщик", "учитель",
      "оператор склада", "инженер-конструктор")
    val levels = Seq("", "Junior ", "Senior ", "Ведущий ")
    val suffixes = Seq("", " (удаленно)", " (Москва)")
    val all = for (b <- bases; l <- levels; s <- suffixes) yield l + b + s
    shuffle(all.toArray)
  }
  private val fields: Array[String] = {
    val kw = Rules.referenceFieldRules.flatMap(_.keywords).map(k => k.capitalize)
    val other = Seq("Сельское хозяйство", "Наука", "Искусство", "Спорт", "Некоммерческий сектор")
    val singles = kw ++ other
    val compound = (0 until 40).map { i =>
      val a = singles(i * 7 % singles.size); val b = singles((i * 13 + 5) % singles.size)
      if (i % 2 == 0) s"$a. $b" else s"$a/$b"
    }
    shuffle((singles ++ compound).toArray)
  }
  private val titleCdf = zipfCdf(titles.length, 1.1)
  private val fieldCdf = zipfCdf(fields.length, 0.8)

  private def shuffle[T](a: Array[T]): Array[T] = {
    for (i <- a.indices.reverse if i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s)); val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private def draw(cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }
  private def text(pool: Array[String], cdf: Array[Double], nullP: Double, blankP: Double): String = {
    val u = rnd.nextDouble()
    if (u < nullP) null else if (u < nullP + blankP) "   " else pool(draw(cdf))
  }

  private val recent = mutable.Queue.empty[Array[Vac]]
  private var nextId = 1L
  private var day = 0

  private def fresh(id: Long, date: String): Vac =
    Vac(id, text(titles, titleCdf, 0.02, 0.01), text(fields, fieldCdf, 0.04, 0.01), date,
      if (rnd.nextDouble() < 0.1) None else Some(1000L * (30 + rnd.nextInt(371))))

  /** The next day's date and rows; cross-day repeats keep their own date. */
  def next(): (String, Array[Vac]) = {
    val date = java.time.LocalDate.of(2024, 1, 1).plusDays(day).toString
    val out = mutable.ArrayBuffer.empty[Vac]
    val old = recent.flatten.toArray
    while (out.size < rowsPerDay) {
      val u = rnd.nextDouble()
      out += (
        if (u < 0.06 && out.nonEmpty) out(rnd.nextInt(out.size))
        else if (u < 0.09 && out.nonEmpty) fresh(out(rnd.nextInt(out.size)).id, date)
        else if (u < 0.17 && old.nonEmpty) old(rnd.nextInt(old.length))
        else if (u < 0.19 && old.nonEmpty) fresh(old(rnd.nextInt(old.length)).id, date)
        else { nextId += 1; fresh(nextId - 1, date) })
    }
    recent.enqueue(out.toArray)
    if (recent.size > 3) recent.dequeue()
    day += 1
    (date, out.toArray)
  }
}

object EtlGen {
  val header = "id,title,ai_field_of_activity,created_at,salary_to"
  def fileName(date: String) = s"vacancies_$date.csv"
  def write(dir: Path, date: String, rows: Array[Vac]): Path = {
    val p = dir.resolve(fileName(date))
    Files.write(p, (header +: rows.map(_.csv)).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Loopback stand-in for the LLM endpoint. It answers with the reference
  * rule classifiers after a fixed service delay on at most `threads`
  * workers, and drops a seeded, key-determined eighth of the keys the first
  * time an op asks for them, so the retry path runs and every count repeats
  * exactly.
  */
final class Stub(seed: Long, threads: Int, delayMs: Int) {
  val calls, retryCalls = new AtomicLong
  private val asked = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  Seq("/title" -> Rules.referenceTitleClassifier, "/field" -> Rules.referenceFieldClassifier)
    .foreach { case (path, cls) => server.createContext(path, (ex: HttpExchange) => answer(ex, path, cls)) }
  server.start()

  def url(path: String): String = s"http://127.0.0.1:${server.getAddress.getPort}$path"
  def dropped(key: String): Boolean = math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key, seed.toInt), 8) == 0
  /** Forget which keys were asked: each op sees the same first-ask drops. */
  def beginOp(): Unit = asked.clear()
  /** Distinct keys asked since [[beginOp]]. */
  def distinctAsked: Long = asked.size.toLong
  def stop(): Unit = { server.stop(0); pool.shutdownNow(); pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS) }

  private def answer(ex: HttpExchange, path: String, cls: RuleBasedClassifier): Unit = try {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val text = mapper.readTree(body).path("messages").path(0).path("text").asText()
    val keys = text.substring(text.indexOf("\nItems: ") + 8).split(", ", -1).toSeq
    val seen = keys.map(k => asked.merge(path + "\u0000" + k, 1, (a: Integer, b: Integer) => a + b).intValue)
    calls.incrementAndGet()
    if (seen.exists(_ > 1)) retryCalls.incrementAndGet()
    val reply = mapper.createArrayNode()
    keys.zip(seen).filterNot { case (k, n) => n == 1 && dropped(k) }.foreach { case (k, _) =>
      val c = cls.classifyOne(k)
      reply.addObject().put("original", k).put("category", c.category).put("specialization", c.specialization)
    }
    val env = mapper.createObjectNode()
    env.putObject("result").putArray("alternatives").addObject().putObject("message")
      .put("text", mapper.writeValueAsString(reply))
    Thread.sleep(delayMs.toLong)
    val bytes = mapper.writeValueAsBytes(env)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  } finally ex.close()
}

/** Traced-run decorator around the HTTP classifier: calls, keys, useful
  * answers and concurrency, counted where the enrichment layer calls out;
  * its spans give the wait. `retryOther` mirrors the stage's own rule for which answers it keeps.
  */
final class CountingClassifier(inner: Classifier, retryOther: Boolean) extends Classifier {
  override def classify(batch: Seq[String]): Seq[Classified] = Spans.remote("enrich.classify") {
    import EnrichTap._
    val now = inFlight.incrementAndGet()
    maxInFlight.accumulateAndGet(now, math.max(_, _))
    try {
      val r = inner.classify(batch)
      val asked = batch.toSet
      useful.addAndGet(r.count(c => asked(c.original) && c.category != Defaults.Unclassified &&
        (!retryOther || c.category != Defaults.Other)).toLong)
      r
    } finally {
      inFlight.decrementAndGet()
      calls.incrementAndGet(); keys.addAndGet(batch.size.toLong)
    }
  }
}

object EnrichTap {
  val calls, keys, useful = new AtomicLong
  val inFlight, maxInFlight = new AtomicInteger
  def reset(): Unit = { Seq(calls, keys, useful).foreach(_.set(0)); maxInFlight.set(0) }
}

/** The paper's daily job, one op per day: drop the day's file (untimed),
  * then discover the latest four files, read and dedup them with the
  * pipeline's persist, run both enrichment stages with `Pipeline.enrichAll`'s
  * arguments through an HTTP classifier pointed at the stub, add the
  * metadata columns, write the CSV sink and run the two dashboard queries
  * over it. The result is checked against rows the benchmark generated.
  */
final class EtlDaily(spark: SparkSession, seed: Long, work: Path, rowsPerDay: Int, stub: Stub) {
  val landing: Path = work.resolve("landing")
  val sink: Path = work.resolve("sink")
  private var gen: EtlGen = _
  private val days = mutable.ArrayBuffer.empty[Array[Vac]]
  var lastClassifiedFrac = 0.0
  var lastKeepFrac = 0.0
  var lastSinkMb = 0.0
  private var lastFiles: Seq[String] = Nil

  /** Reset the landing directory and drop the first three days (the
    * benchmark's own generator: untimed, outside set-up).
    */
  def stage(): Unit = {
    Files.createDirectories(work)
    Main.deleteTree(landing); Main.deleteTree(sink)
    Files.createDirectories(landing)
    gen = new EtlGen(seed, rowsPerDay); days.clear()
    (0 until 3).foreach(_ => dropDay())
  }
  def dropDay(): Unit = { val (date, rows) = gen.next(); days += rows; EtlGen.write(landing, date, rows) }
  def inputRows: Long = days.takeRight(4).map(_.length.toLong).sum
  /** sha-256 over every generated file, in name order. */
  def inputDigest: String = {
    import scala.jdk.CollectionConverters._
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Files.list(landing).iterator().asScala.toSeq.sorted.foreach { p =>
      md.update(p.getFileName.toString.getBytes(UTF_8)); md.update(Files.readAllBytes(p))
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  private def classifiers(traced: Boolean): (Classifier, Classifier) = {
    def http(p: String) = new HttpClassifier(HttpClassifierConfig(stub.url(p), "stub", "none"))
    if (traced) (new CountingClassifier(http("/title"), false), new CountingClassifier(http("/field"), true))
    else (http("/title"), http("/field"))
  }

  /** The timed part of a day op. */
  def run(traced: Boolean): EtlDaily.Out = {
    stub.beginOp()
    val (titleCls, fieldCls) = classifiers(traced)
    val files = Spans("pipeline.discover")(Pipeline.discoverLatestCsvs(spark, landing.toUri.toString, 4))
    lastFiles = files
    // lazy, as in Pipeline.run: the scan and both dedups run at the first
    // action, the title stage's distinct-key count inside pipeline.enrich
    val deduped = Spans("pipeline.read_dedup")(
      Pipeline.readAndDedup(spark, files).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val enriched = Spans("pipeline.enrich") {
      val titled = Enrichment.enrich(deduped, "title", titleCls,
        categoryCol = "normalized_title", batchSize = 15, maxRetries = 1)
      Enrichment.enrich(titled, "ai_field_of_activity", fieldCls,
        categoryCol = "category", specializationCol = "specialization",
        batchSize = 10, maxRetries = 1, retryOther = true)
    }
    Spans("pipeline.sink")(Pipeline.writeCsv(Pipeline.withMeta(enriched), sink.toUri.toString))
    Spans("dashboard.query") {
      spark.read.option("header", "true").schema(EtlDaily.sinkSchema).csv(sink.toUri.toString)
        .createOrReplaceTempView("normalized_vacancies")
      EtlDaily.Out(spark.sql(EtlDaily.a7Sql).collect().toSeq, spark.sql(EtlDaily.a8Sql).collect().toSeq)
    }
  }

  /** None when the sink and both dashboards match what the generated rows
    * imply; otherwise what differs.
    */
  def check(out: EtlDaily.Out): Option[String] = {
    val window = days.takeRight(4).flatten.distinct
    val cand = window.groupBy(_.id).map { case (id, vs) => id -> vs.map(EtlDaily.key).toSet }
    val sinkRows = EtlDaily.readSink(sink)
    lastSinkMb = Main.treeBytes(sink) / 1e6
    val ids = sinkRows.map(_("id").toLong)
    if (ids.size != cand.size || ids.toSet != cand.keySet)
      return Some(s"sink has ${ids.size} rows / ${ids.toSet.size} ids, expected ${cand.size} ids; read ${lastFiles.map(_.split('/').last)}")
    val bad = sinkRows.find { r =>
      val k = (EtlDaily.blank(r("title")), EtlDaily.blank(r("ai_field_of_activity")), r("created_at"),
        Option(r("salary_to")).filter(_.nonEmpty).map(_.toDouble.toLong))
      !cand(r("id").toLong).contains(k) ||
        r("normalized_title") != EtlDaily.expectTitle(k._1) ||
        (r("category"), r("specialization")) != EtlDaily.expectField(k._2)
    }
    if (bad.nonEmpty) return Some(s"sink row differs from expectation: ${bad.get}")
    // the sink holds one row per deduped id
    lastKeepFrac = sinkRows.size.toDouble / math.max(1L, inputRows)
    lastClassifiedFrac = sinkRows.count(r => r("category") != Defaults.Unclassified &&
      r("category") != Defaults.NotSpecified).toDouble / sinkRows.size
    val (e7, e8) = EtlDaily.dashboards(sinkRows)
    if (out.a7.map(_.toSeq) != e7) Some(s"A7 differs: ${out.a7.take(3)} vs ${e7.take(3)}")
    else if (out.a8.map(_.toSeq) != e8) Some(s"A8 differs: ${out.a8.take(3)} vs ${e8.take(3)}")
    else None
  }
}

object EtlDaily {
  final case class Out(a7: Seq[Row], a8: Seq[Row])

  val sinkSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("title", StringType),
    StructField("ai_field_of_activity", StringType), StructField("created_at", DateType),
    StructField("salary_to", DoubleType), StructField("normalized_title", StringType),
    StructField("category", StringType), StructField("specialization", StringType),
    StructField("_processing_date", StringType), StructField("_processing_timestamp", TimestampType)))

  /** vacancy_analysis.sql:11-19 (A7), with a tie-breaker so LIMIT is deterministic. */
  val a7Sql: String =
    s"""SELECT normalized_title, COUNT(*) AS vacancy_count, ROUND(AVG(salary_to), 0) AS avg_salary
       |FROM normalized_vacancies WHERE normalized_title != '${Defaults.Unclassified}'
       |GROUP BY normalized_title ORDER BY vacancy_count DESC, normalized_title LIMIT 20""".stripMargin
  /** vacancy_analysis.sql:23-31 (A8). */
  val a8Sql: String =
    s"""SELECT category, COUNT(*) AS vacancy_count,
       |ROUND(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (), 1) AS market_share
       |FROM normalized_vacancies
       |WHERE category NOT IN ('${Defaults.Unclassified}', '${Defaults.Other}', '${Defaults.NotSpecified}')
       |GROUP BY category ORDER BY vacancy_count DESC, category""".stripMargin

  def blank(s: String): String = if (s == null || s.trim.isEmpty) "" else s
  def key(v: Vac): (String, String, String, Option[Long]) = (blank(v.title), blank(v.field), v.date, v.salary)

  /** Title stage: blank keys are 'Не указано'; every other key is answered
    * on its second ask at the latest, and any answer is kept.
    */
  def expectTitle(t: String): String =
    if (t.isEmpty) Defaults.NotSpecified else Rules.referenceTitleClassifier.classifyOne(t.trim).category
  /** Field stage (retryOther): an 'Другое' answer is retried and then
    * default-filled; the reference rules carry no specialization.
    */
  def expectField(f: String): (String, String) =
    if (f.isEmpty) (Defaults.NotSpecified, Defaults.NotSpecified)
    else {
      val c = Rules.referenceFieldClassifier.classifyOne(f.trim).category
      (if (c == Defaults.Other) Defaults.Unclassified else c, Defaults.Unclassified)
    }

  /** The sink's part files as header-keyed maps. Generated values hold no
    * comma or quote; the writer renders an empty string as `""`.
    */
  def readSink(dir: Path): Seq[Map[String, String]] = {
    import scala.jdk.CollectionConverters._
    Files.list(dir).iterator().asScala.toSeq.filter(_.getFileName.toString.startsWith("part-")).sorted.flatMap { p =>
      val lines = Files.readAllLines(p, UTF_8).asScala.toSeq
      if (lines.isEmpty) Nil
      else {
        val h = lines.head.split(",", -1)
        lines.tail.map(l => h.zip(l.split(",", -1).map(v => if (v.isEmpty) null else if (v == "\"\"") "" else v)).toMap)
      }
    }
  }

  def dashboards(rows: Seq[Map[String, String]]): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val a7 = rows.filter(_("normalized_title") != Defaults.Unclassified).groupBy(_("normalized_title")).toSeq
      .map { case (t, rs) =>
        val sal = rs.flatMap(r => Option(r("salary_to")).filter(_.nonEmpty).map(_.toDouble))
        val avg: Any = if (sal.isEmpty) null
          else BigDecimal(sal.sum / sal.size).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
        (t, rs.size.toLong, avg)
      }.sortBy(x => (-x._2, x._1)).take(20).map(x => Seq[Any](x._1, x._2, x._3))
    val kept = rows.filterNot(r => Set(Defaults.Unclassified, Defaults.Other, Defaults.NotSpecified)(r("category")))
    val total = BigDecimal(kept.size)
    val a8 = kept.groupBy(_("category")).toSeq.map { case (c, rs) => (c, rs.size.toLong) }
      .sortBy(x => (-x._2, x._1)).map { case (c, n) =>
        val share = (BigDecimal(n) * 100 / total).setScale(1, BigDecimal.RoundingMode.HALF_UP)
        Seq[Any](c, n, share.bigDecimal)
      }
    (a7, a8)
  }
}
