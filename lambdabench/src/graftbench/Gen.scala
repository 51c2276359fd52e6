package graftbench

import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded input generation. Every input the program sees comes from
  * here, drawn from a `SplittableRandom` seeded by the workload seed, so
  * the same seed yields byte-identical inputs.
  */
object Gen {

  val FirstDay: LocalDate = LocalDate.parse("2025-01-01")

  def day(i: Int): String = FirstDay.plusDays(i.toLong).toString

  /** Lexicon words (the engine's default lists) mixed with neutral
    * filler, so every doc scores through both word lists.
    */
  private val Positive = Seq("gain", "growth", "profit", "beat", "strong", "up",
    "surge", "rally", "record", "win")
  private val Negative = Seq("loss", "drop", "miss", "weak", "down", "fall", "risk",
    "fraud", "decline", "crash")
  private val Neutral = Seq("apple", "shares", "market", "today", "analysts",
    "report", "quarter", "iphone", "sales", "investors", "guidance", "the", "a",
    "of", "on", "in", "after", "stock", "price", "earnings")

  private def pick(r: SplittableRandom, xs: Seq[String]): String = xs(r.nextInt(xs.size))

  /** One news text: mostly words, sometimes a URL, a handle, a hashtag,
    * a cashtag or an underscore, so cleaning has work to do; about one in
    * forty is shorter than the cleaner's 10-character floor.
    */
  def newsText(r: SplittableRandom): String =
    if (r.nextInt(40) == 0) pick(r, Seq("up 1", "down", "AAPL", "ok fine"))
    else {
      val n = 6 + r.nextInt(18)
      val words = (0 until n).map { _ =>
        r.nextInt(20) match {
          case 0 | 1 => pick(r, Positive)
          case 2 | 3 => pick(r, Negative)
          case 4 => pick(r, Positive).toUpperCase
          case 5 if r.nextInt(4) == 0 => s"http://x.co/${r.nextInt(1000)}"
          case 6 if r.nextInt(4) == 0 => s"@user${r.nextInt(100)}"
          case 7 if r.nextInt(3) == 0 => "#" + pick(r, Neutral)
          case 8 if r.nextInt(3) == 0 => "$AAPL"
          case 9 if r.nextInt(3) == 0 => pick(r, Neutral) + "_" + pick(r, Positive)
          case _ => pick(r, Neutral)
        }
      }
      (if (r.nextInt(10) == 0) "  " else "") + words.mkString(if (r.nextInt(8) == 0) "  " else " ")
    }

  /** A daily close series as a bounded random walk. */
  def closes(r: SplittableRandom, n: Int): IndexedSeq[Double] = {
    var c = 150.0
    (0 until n).map { _ =>
      c = math.max(20.0, c + (r.nextInt(2001) - 1000) / 100.0)
      c
    }
  }

  /** One raw tick record as the wire sends it: every field a string. */
  def tickJson(date: String, close: Double): String = {
    val o = close - 0.5
    s"""{"Date":"$date","Open":"$o","High":"${close + 1}","Low":"${o - 1}","Close":"$close","Volume":"${(close * 1000).toLong}"}"""
  }

  def newsJson(date: String, text: String): String =
    s"""{"Date":"$date","Text":${Json.str(text)}}"""

  /** A live news event also carries its arrival sequence and creation
    * time; the engine's news parser keeps only Date and Text.
    */
  def liveNewsJson(date: String, text: String, seq: Long, createdMs: Long): String =
    s"""{"Date":"$date","Text":${Json.str(text)},"seq":$seq,"ts":$createdMs}"""

  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  // ---- batch_daily masters ----

  /** Seeded news and stock masters over `days` days plus one further
    * day's backlog of raw event files.
    */
  final case class Masters(days: IndexedSeq[String], news: IndexedSeq[(String, String)],
                           closes: IndexedSeq[Double], backlogDay: String,
                           backlogNewsFiles: IndexedSeq[IndexedSeq[(String, String)]],
                           backlogClose: Double, today: String) {
    def allNews: Iterator[(String, String)] = news.iterator ++ backlogNewsFiles.iterator.flatten
    def stock: IndexedSeq[(String, Double)] = days.zip(closes) :+ (backlogDay -> backlogClose)
    def digest: String = sha256(allNews.map { case (d, t) => newsJson(d, t) } ++
      stock.iterator.map { case (d, c) => tickJson(d, c) })
  }

  def masters(seed: Long, days: Int, docsPerDay: Int, backlogFiles: Int): Masters = {
    val r = new SplittableRandom(seed)
    val ds = (0 until days).map(day)
    val news = ds.flatMap(d => Seq.fill(docsPerDay)(d -> newsText(r)))
    val cs = closes(r, days + 1)
    val bday = day(days)
    val files = (0 until backlogFiles).map(_ => (0 until docsPerDay / backlogFiles).map(_ => bday -> newsText(r)))
    Masters(ds, news, cs.take(days), bday, files, cs(days), day(days + 1))
  }

  // ---- lambda_live ----

  /** The live event stream: which day each event belongs to and its
    * text, by sequence number; a tenth of the news is late (yesterday).
    */
  final class LiveStream(seed: Long, val today: String, val yesterday: String) {
    private val r = new SplittableRandom(seed ^ 0x5EEDL)
    private var close = 180.0
    def nextNews(): (String, String) = (if (r.nextInt(10) == 0) yesterday else today, newsText(r))
    def nextClose(): Double = { close = math.max(20.0, close + (r.nextInt(201) - 100) / 100.0); close }
  }

  /** The pre-built batch view for the live workload: one row per day. */
  def batchViewRows(seed: Long, days: Int): IndexedSeq[(String, Double, Long, Double, Double, Double)] = {
    val r = new SplittableRandom(seed ^ 0xB7L)
    val cs = closes(r, days)
    (0 until days).map { i =>
      val n = 200L + r.nextInt(700)
      val p = 0.1 + r.nextInt(1000) / 10000.0
      val ng = 0.1 + r.nextInt(1000) / 10000.0
      (day(i), cs(i), n, p, ng, 1.0 - p - ng)
    }
  }

  // ---- store_commits ----

  final case class Row3(k: Long, g: String, v: Double)

  def group(r: SplittableRandom): String = s"g${r.nextInt(64)}"
  def value(r: SplittableRandom): Double = r.nextInt(1000000) / 100.0

  def storeRows(seed: Long, n: Int): IndexedSeq[Row3] = {
    val r = new SplittableRandom(seed ^ 0x57L)
    (0 until n).map(i => Row3(i.toLong, group(r), value(r)))
  }

  sealed trait StoreOp { def kind: String }
  final case class Insert(rows: Seq[Row3]) extends StoreOp { def kind = "insert" }
  final case class Delete(k: Long) extends StoreOp { def kind = "delete" }
  final case class Merge(rows: Seq[Row3]) extends StoreOp { def kind = "merge" }
  case object Refresh extends StoreOp { def kind = "refresh" }
  final case class Lookup(k: Long) extends StoreOp { def kind = "lookup" }

  /** The fixed statement mix, one round at a time: each round inserts
    * 100 new keys, deletes one live key, upserts 50 rows (half existing
    * keys, half new), refreshes the view, with point lookups between.
    * Keys are drawn from the live set the model tracks, so no statement
    * targets a missing row.
    */
  final class StoreMix(seed: Long, initial: Int) {
    private val r = new SplittableRandom(seed ^ 0x3C3CL)
    private var nextKey = initial.toLong
    private val live = scala.collection.mutable.ArrayBuffer.tabulate(initial)(_.toLong)
    private val pos = scala.collection.mutable.HashMap.empty[Long, Int]
    live.indices.foreach(i => pos(live(i)) = i)
    private def add(k: Long): Unit = { pos(k) = live.size; live += k }
    private def remove(k: Long): Unit = {
      val i = pos.remove(k).get
      val last = live.remove(live.size - 1)
      if (last != k) { live(i) = last; pos(last) = i }
    }
    private def anyLive(): Long = live(r.nextInt(live.size))
    private def fresh(): Row3 = { val k = nextKey; nextKey += 1; add(k); Row3(k, group(r), value(r)) }

    def round(): Seq[StoreOp] = {
      val ins = Insert(Seq.fill(100)(fresh()))
      val del = anyLive(); remove(del)
      val upd = Seq.fill(25)(anyLive()).distinct.map(k => Row3(k, group(r), value(r)))
      val mrg = Merge(upd ++ Seq.fill(50 - upd.size)(fresh()))
      Seq(ins, Lookup(anyLive()), Delete(del), Lookup(anyLive()), mrg, Lookup(anyLive()),
        Refresh, Lookup(anyLive()))
    }
  }
}
