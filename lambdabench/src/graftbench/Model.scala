package graftbench

/** Plain-Scala models of what each workload must leave in the views,
  * built from the generator's own records and never from the engine.
  * Each checker returns its mismatches; an empty list means the output
  * is correct.
  */
object Model {

  // ---- lexicon scorer (the batch layer's clean + sentiment contract) ----

  private val Positive = Set("fast", "big", "spark", "vector", "gain", "growth", "profit",
    "beat", "strong", "up", "surge", "rally", "record", "win")
  private val Negative = Set("slow", "small", "dup", "scan", "loss", "drop", "miss", "weak",
    "down", "fall", "risk", "fraud", "decline", "crash")

  /** Cleaned text, or None when the doc is dropped: shorter than 10
    * chars; URLs and handles removed; '$' and '#' deleted; '_' to space;
    * surrounding spaces trimmed.
    */
  def clean(text: String): Option[String] =
    if (text == null || text.codePointCount(0, text.length) < 10) None
    else {
      val noEmoji = text.codePoints().toArray.filterNot { cp =>
        (cp >= 0x1F000 && cp <= 0x1FAFF) || (cp >= 0x2190 && cp <= 0x21FF) ||
        (cp >= 0x2600 && cp <= 0x27BF) || (cp >= 0xFE00 && cp <= 0xFE0F) ||
        (cp >= 0x2B00 && cp <= 0x2BFF)
      }
      val s = new String(noEmoji, 0, noEmoji.length)
        .replaceAll("(?:@|http://|https://|www)\\S+", "")
        .replaceAll("@[A-Za-z0-9]+", "")
        .replace("$", "").replace("#", "").replace('_', ' ')
      Some(s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse)
    }

  /** (positive, negative, neutral) with Laplace smoothing over
    * lowercased whitespace tokens.
    */
  def score(text: String): (Double, Double, Double) = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    val n = toks.length.toDouble
    val pc = toks.count(Positive).toDouble
    val nc = toks.count(Negative).toDouble
    ((pc + 1) / (n + 3), (nc + 1) / (n + 3), (n - pc - nc + 1) / (n + 3))
  }

  /** Expected batch view: per day with a close, the article count and
    * the mean scores of the docs that survive cleaning, and the close.
    */
  final case class Daily(n: Long, pos: Double, neg: Double, neu: Double, close: Double)

  def batchView(news: Iterator[(String, String)], stock: Seq[(String, Double)],
                today: String): Map[String, Daily] = {
    val acc = scala.collection.mutable.HashMap.empty[String, Array[Double]]
    news.foreach { case (d, t) =>
      clean(t).foreach { c =>
        val (p, n, u) = score(c)
        val a = acc.getOrElseUpdate(d, new Array[Double](4))
        a(0) += 1; a(1) += p; a(2) += n; a(3) += u
      }
    }
    stock.collect { case (d, close) if d != today && acc.contains(d) =>
      val a = acc(d)
      d -> Daily(a(0).toLong, a(1) / a(0), a(2) / a(0), a(3) / a(0), close)
    }.toMap
  }

  def checkBatchView(want: Map[String, Daily], got: Map[String, Daily],
                     tol: Double = 1e-9): Seq[String] = {
    val keys = (want.keySet ++ got.keySet).toSeq.sorted
    keys.flatMap { d =>
      (want.get(d), got.get(d)) match {
        case (None, _) => Seq(s"batch_view: unexpected day $d")
        case (_, None) => Seq(s"batch_view: missing day $d")
        case (Some(w), Some(g)) =>
          Seq(
            Option.when(w.n != g.n)(s"batch_view $d: Nbr_article ${g.n} != ${w.n}"),
            Option.when(w.close != g.close)(s"batch_view $d: Close ${g.close} != ${w.close}"),
            Option.when(!near(w.pos, g.pos, tol))(s"batch_view $d: Positive ${g.pos} != ${w.pos}"),
            Option.when(!near(w.neg, g.neg, tol))(s"batch_view $d: Negative ${g.neg} != ${w.neg}"),
            Option.when(!near(w.neu, g.neu, tol))(s"batch_view $d: Neutre ${g.neu} != ${w.neu}")
          ).flatten
      }
    }.take(20)
  }

  private def near(a: Double, b: Double, tol: Double) = math.abs(a - b) <= tol

  // ---- speed view ----

  /** Expected speed row per day: article count, the last published
    * close, and the (x + v) / 2 running sentiment folded in arrival order.
    */
  final case class Speed(n: Long, close: Option[Double], pos: Option[Double])

  final class SpeedModel {
    private val rows = scala.collection.mutable.HashMap.empty[String, Speed]
    def news(day: String, text: String): Unit = {
      val (p, _, _) = score(text)
      val cur = rows.getOrElse(day, Speed(0, None, None))
      rows(day) = cur.copy(n = cur.n + 1, pos = Some(cur.pos.fold(p)(x => (x + p) / 2)))
    }
    def tick(day: String, close: Double): Unit = {
      val cur = rows.getOrElse(day, Speed(0, None, None))
      rows(day) = cur.copy(close = Some(close))
    }
    def snapshot: Map[String, Speed] = rows.toMap
  }

  def checkSpeedView(want: Map[String, Speed], got: Map[String, Speed],
                     tol: Double = 1e-9): Seq[String] =
    (want.keySet ++ got.keySet).toSeq.sorted.flatMap { d =>
      (want.get(d), got.get(d)) match {
        case (None, _) => Seq(s"speed_view: unexpected day $d")
        case (_, None) => Seq(s"speed_view: missing day $d")
        case (Some(w), Some(g)) =>
          Seq(
            Option.when(w.n != g.n)(s"speed_view $d: nbrArticle ${g.n} != ${w.n}"),
            Option.when(w.close != g.close)(s"speed_view $d: close ${g.close} != ${w.close}"),
            Option.when(w.pos.isDefined != g.pos.isDefined ||
              w.pos.zip(g.pos).exists { case (a, b) => !near(a, b, tol) })(
              s"speed_view $d: positive ${g.pos} != ${w.pos}")
          ).flatten
      }
    }.take(20)

  // ---- keyed store + count/sum view ----

  final class StoreModel(initial: Seq[Gen.Row3]) {
    val rows: scala.collection.mutable.HashMap[Long, Gen.Row3] =
      scala.collection.mutable.HashMap.from(initial.map(r => r.k -> r))
    def apply(op: Gen.StoreOp): Unit = op match {
      case Gen.Insert(rs) => rs.foreach(r => rows(r.k) = r)
      case Gen.Delete(k) => rows.remove(k)
      case Gen.Merge(rs) => rs.foreach(r => rows(r.k) = r)
      case _ =>
    }
    /** group -> (count, sum of v) */
    def view: Map[String, (Long, Double)] =
      rows.values.groupBy(_.g).map { case (g, rs) => g -> (rs.size.toLong, rs.iterator.map(_.v).sum) }
    /** Bytes of the live rows at their raw width (8 + 8 + group chars). */
    def liveBytes: Long = rows.valuesIterator.map(r => 16L + r.g.length).sum
  }

  def checkTable(want: collection.Map[Long, Gen.Row3], got: Seq[Gen.Row3]): Seq[String] = {
    val dups = got.groupBy(_.k).collect { case (k, rs) if rs.size > 1 => s"table: key $k appears ${rs.size} times" }
    val gotMap = got.map(r => r.k -> r).toMap
    val missing = want.keys.filterNot(gotMap.contains).take(5).map(k => s"table: missing key $k")
    val extra = gotMap.keys.filterNot(want.contains).take(5).map(k => s"table: unexpected key $k")
    val diff = want.valuesIterator.filter(w => gotMap.get(w.k).exists(_ != w)).take(5)
      .map(w => s"table: key ${w.k} is ${gotMap(w.k)}, want $w")
    (dups.take(5) ++ missing ++ extra ++ diff).toSeq
  }

  def checkView(want: Map[String, (Long, Double)], got: Map[String, (Long, Double)],
                relTol: Double = 1e-9): Seq[String] =
    (want.keySet ++ got.keySet).toSeq.sorted.flatMap { g =>
      (want.get(g), got.get(g)) match {
        case (Some((wn, ws)), Some((gn, gs))) =>
          Seq(Option.when(wn != gn)(s"mv $g: count $gn != $wn"),
            Option.when(math.abs(ws - gs) > relTol * math.max(1.0, math.abs(ws)))(s"mv $g: sum $gs != $ws")).flatten
        case (w, g) => Seq(s"mv $g: model $w, view $g")
      }
    }.take(20)
}
