package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators, shaped like `graft.data.SequenceGen` (the
  * sequences table: doc_id, tokens, n_tok, source over six sources, one of
  * them holding ~50% of rows) and `graft.sources.DocsAdapter.funnelDocs`
  * (a crawl with URL variants and exact re-hosted copies).
  *
  * Every attribute of row `i` is a pure function of (seed, i), so the
  * generator doubles as the closed-form reference for the search checks:
  * the benchmark knows each row's source, template, user and status
  * without asking the program under test.
  */
object Gen {
  /** 2021-01-20T19:37:00Z; row i carries event time base + i seconds, so
    * times are unique and newest-first is descending i.
    */
  val baseEpochS: Long = 1611171420L

  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def bits(h: Long, shift: Int, mod: Int): Int =
    java.lang.Long.remainderUnsigned(h >>> shift, mod.toLong).toInt

  val sources: Seq[String] =
    Seq("log-0.txt", "log-1.txt", "log-2.txt", "access-0.log", "access-1.log", "json-0.log")

  /** The generated attributes of one event. */
  final case class Row(i: Long, source: String, kind: Int, tmpl: Int, user: Int,
      splines: Int, status: Int, method: String, path: Int, level: String) {
    def docId: String = f"doc-$i%012d"
    def isKv: Boolean = kind == 0
    def isAccess: Boolean = kind == 1
    def epochS: Long = baseEpochS + i
  }

  def row(seed: Long, i: Long): Row = {
    val h = mix(seed, i)
    val p = bits(h, 0, 100)
    // 50 / 15 / 10 / 10 / 5 / 10 percent
    val src = if (p < 50) 0 else if (p < 65) 1 else if (p < 75) 2
      else if (p < 85) 3 else if (p < 90) 4 else 5
    val kind = if (src <= 2) 0 else if (src <= 4) 1 else 2
    val s = bits(h, 20, 100)
    Row(i, sources(src), kind, bits(h, 8, 2), bits(h, 12, 100), bits(h, 28, 200),
      if (s < 80) 200 else if (s < 90) 204 else if (s < 95) 301
        else if (s < 97) 404 else if (s < 99) 400 else 500,
      Seq("GET", "GET", "GET", "POST", "DELETE", "PUT")(bits(h, 36, 6)),
      bits(h, 44, 50), if (bits(h, 52, 4) == 0) "warn" else "info")
  }

  private val kvFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy/MM/dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)
  private val accessFmt = java.time.format.DateTimeFormatter
    .ofPattern("dd/MMM/yyyy:HH:mm:ss", java.util.Locale.ROOT)
    .withZone(java.time.ZoneOffset.UTC)

  /** The log line of a row, in the reference generators' templates. */
  def text(r: Row): String = {
    val t = java.time.Instant.ofEpochSecond(r.epochS)
    r.kind match {
      case 0 if r.tmpl == 0 =>
        s"${kvFmt.format(t)} Reticulated numSplines=${r.splines} for userId=${r.user} in timeInMs=${(r.i % 500)}"
      case 0 =>
        s"${kvFmt.format(t)} Setting password=pw${r.splines} for userId=${r.user}, userName=user${r.user}"
      case 1 =>
        s"""203.0.113.${r.i % 255} - - [${accessFmt.format(t)} +0000] "${r.method} /lorem/ipsum${r.path}.txt HTTP/1.1" ${r.status} ${r.splines * 7} "-" Firefox"""
      case _ =>
        s"""{"level":"${r.level}","ts":${r.epochS}.000000,"logger":"reloadFileWatchers","msg":"reloading file watchers","newIndexedFilesLen":${r.path % 5}}"""
    }
  }

  /** Rows [lo, hi) as the program's sequences table (doc_id, tokens, n_tok,
    * source); tokenized with the program's own reversible vocabulary.
    */
  def sequences(spark: SparkSession, seed: Long, lo: Long, hi: Long, parts: Int): DataFrame = {
    import spark.implicits._
    val raw = spark.range(lo, hi, 1, parts).as[Long].mapPartitions { it =>
      it.map { i => val r = row(seed, i); (r.docId, text(r), r.source) }
    }.toDF("doc_id", "text", "source")
    val tokens = graft.functions.F.text_to_tokens(col("text"))
    raw.select(col("doc_id"), tokens.as("tokens"), size(tokens).as("n_tok"), col("source"))
  }

  // ------------------------------------------------------------ crawl

  private val words: Array[String] = ("the of and to in is that for it with as was on be " +
    "by this are from at or an have not but which data model system query table index " +
    "spark storage engine cluster network memory latency throughput record stream batch " +
    "partition shuffle worker driver result value field source host event window count " +
    "sample corpus token filter quality page crawl document text language score metric " +
    "river mountain garden kitchen morning evening library museum market harbor bridge " +
    "village forest ocean island valley winter summer autumn spring weather journey").split(" ")

  /** Zipf(1) word weights, so the unigram LM cutoff of the funnel keeps
    * about half of the pages instead of all or none.
    */
  private val zipfCdf: Array[Double] = {
    val w = words.indices.map(i => 1.0 / (i + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private def word(rnd: java.util.SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    words(math.min(words.length - 1, if (i >= 0) i else -i - 1))
  }

  /** Exact re-hosted copies get doc_id + CopyShift (every 7th doc). */
  val CopyShift: Long = 1L << 40

  /** The crawl: (doc_id, url, html). Groups of eight docs share one URL
    * under eight spellings (URL dedup keeps one); every 7th doc has a
    * re-hosted copy with the same body under a shifted id and URL (content
    * dedup catches it).
    */
  def crawl(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long].flatMap { i =>
      val page = crawlPage(seed, i, i)
      if (i % 7 == 0) Seq(page, crawlPage(seed, i + CopyShift, i)) else Seq(page)
    }.toDF("doc_id", "url", "html")
  }

  /** Page `i` carrying the body text of page `body` (a copy when they differ). */
  def crawlPage(seed: Long, i: Long, body: Long): (Long, String, String) = {
    val h = mix(seed ^ 0x5bd1e995L, body)
    val rnd = new java.util.SplittableRandom(h)
    val grp = i / 8
    val host = s"site$grp.example.org"
    val path = s"/p$grp"
    val url = (i % 8).toInt match {
      case 0 => s"https://$host$path"
      case 1 => s"HTTPS://${host.toUpperCase}$path"
      case 2 => s"https://www.$host$path"
      case 3 => s"https://$host:443$path"
      case 4 => s"https://$host$path/"
      case 5 => s"https://$host$path#sec2"
      case 6 => s"https://$host$path?utm_source=feed&id=7&b=2"
      case _ => s"https://$host$path?b=2&id=7&fbclid=xyz"
    }
    // a short page (some fail the quality gates) or a few sentences of
    // seeded word soup, always with stopwords so most clear them
    val nSent = if (rnd.nextInt(10) == 0) 1 else 3 + rnd.nextInt(6)
    val text = (0 until nSent).map { _ =>
      val n = 6 + rnd.nextInt(14)
      val ws = (0 until n).map(_ => word(rnd))
      ws.head.capitalize + " " + ws.tail.mkString(" ") + "."
    }.mkString("\n")
    val html = s"<html><head><title>t$i</title><style>p { color: red; }</style></head>" +
      s"<body><h1>Doc $i</h1><p>$text</p>" +
      (if (i % 2 == 0) "<script>var x = 1 < 2;</script>" else "") +
      "<ul><li>alpha &amp; beta</li><li>1 &lt; 2</li></ul>" +
      (if (i % 5 == 0) "<p>&quot;quoted&quot;&nbsp;tail</p>" else "") +
      "</body></html>"
    (i, url, html)
  }
}
