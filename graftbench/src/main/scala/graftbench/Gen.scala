package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators for the three workloads. Everything here is
  * plain JVM code run before any timed region: the engine only ever
  * sees the files (or rows) these functions produce, and the same seed
  * always yields byte-identical inputs. Each generator also returns the
  * ground truth its workload's correctness checks compare against.
  */
object Gen {

  // ---------------------------------------------------------------
  // Process model and traces (log_mining and stream_monitor)
  // ---------------------------------------------------------------

  sealed trait Node
  final case class Act(name: String) extends Node
  final case class Sequence(kids: Seq[Node]) extends Node
  final case class Choice(kids: Seq[Node]) extends Node
  final case class Parallel(kids: Seq[Node]) extends Node
  final case class Loop(body: Node, redo: Node) extends Node

  /** A random block-structured process model over `nActs` activities:
    * sequences, exclusive choices, parallel blocks and loops. */
  def model(rnd: SplittableRandom, nActs: Int): Node = {
    val acts = (0 until nActs).map(i => Act(f"act_${('A' + i).toChar}%s"))
    def build(xs: Seq[Act], depth: Int): Node =
      if (xs.size == 1) xs.head
      else {
        val k = math.min(xs.size, 2 + rnd.nextInt(2))
        val cuts = (1 until xs.size).toVector
        val picked = shuffle(rnd, cuts).take(k - 1).sorted
        val parts = (0 +: picked :+ xs.size).sliding(2)
          .map { case Seq(a, b) => xs.slice(a, b) }.toVector
        val kids = parts.map(build(_, depth + 1))
        val u = rnd.nextDouble()
        if (depth == 0) Sequence(kids)
        else if (u < 0.40) Sequence(kids)
        else if (u < 0.70) Choice(kids)
        else if (u < 0.85 || kids.size != 2) Parallel(kids)
        else Loop(kids(0), kids(1))
      }
    build(acts, 0)
  }

  private def shuffle[T](rnd: SplittableRandom, xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** One trace of `m`: parallel blocks interleave their branches at
    * random, loops repeat their redo part with probability 0.3 (at most
    * three times). */
  def play(rnd: SplittableRandom, m: Node): Vector[String] = m match {
    case Act(a) => Vector(a)
    case Sequence(ks) => ks.toVector.flatMap(play(rnd, _))
    case Choice(ks) => play(rnd, ks(rnd.nextInt(ks.size)))
    case Parallel(ks) =>
      val branches = ks.map(k => play(rnd, k)).filter(_.nonEmpty).toArray
      val pos = new Array[Int](branches.length)
      val out = Vector.newBuilder[String]
      var live = branches.indices.toVector
      while (live.nonEmpty) {
        val b = live(rnd.nextInt(live.size))
        out += branches(b)(pos(b))
        pos(b) += 1
        if (pos(b) == branches(b).length) live = live.filterNot(_ == b)
      }
      out.result()
    case Loop(body, redo) =>
      var t = play(rnd, body)
      var n = 0
      while (n < 3 && rnd.nextDouble() < 0.3) {
        t = t ++ play(rnd, redo) ++ play(rnd, body)
        n += 1
      }
      t
  }

  final case class Ev(activity: String, resource: String, tsMicros: Long, cost: Int)
  final case class Trace(events: Vector[Ev])

  val Resources: Vector[String] = (1 to 12).map(i => f"res_$i%02d").toVector
  /** 2024-01-01T00:00:00Z: every generated timestamp lies after it. */
  val EpochMicros: Long = 1704067200L * 1000000L

  /** `nEvents` (at least) worth of traces of `m`, each event with a
    * resource, a strictly increasing timestamp and an int cost. */
  def traces(rnd: SplittableRandom, m: Node, nEvents: Int): Vector[Trace] = {
    val out = Vector.newBuilder[Trace]
    var total = 0
    var start = EpochMicros
    while (total < nEvents) {
      var ts = start
      val evs = play(rnd, m).map { a =>
        ts += (1L + rnd.nextInt(600)) * 1000000L + rnd.nextInt(1000) * 1000L
        Ev(a, Resources(rnd.nextInt(Resources.size)), ts, rnd.nextInt(1000))
      }
      out += Trace(evs)
      total += evs.size
      start += (30L + rnd.nextInt(120)) * 1000000L
    }
    out.result()
  }

  /** Directly-follows counts of a set of activity sequences. */
  def dfg(seqs: Iterable[Seq[String]]): Map[(String, String), Long] = {
    val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
    seqs.foreach(s => s.iterator.sliding(2).withPartial(false)
      .foreach(p => m((p(0), p(1))) = m.getOrElse((p(0), p(1)), 0L) + 1L))
    m.toMap
  }

  // ---------------------------------------------------------------
  // XES logs (log_mining)
  // ---------------------------------------------------------------

  /** Events per log, in request order: one cycle of the log_mining
    * loop requests each once. The same for every seed, so that runs
    * with different seeds measure the same size mix: a small log, bound
    * by the per-call floor, and a large one, where parse and render add
    * to it. A third slot's model made some seeds' requests up to five
    * times slower than others, so it is not used. */
  val LogSizes: Vector[Int] = Vector(300, 20000)

  final case class LogTruth(
      path: String, nTraces: Long, nEvents: Long,
      traces: Vector[Trace],
      filterActs: Set[String], filterResource: String, filterAfterMicros: Long) {
    /** The dsl filter the request applies, evaluated on the generated
      * events: (activity in acts OR resource = r) AND ts > t. */
    def keeps(e: Ev): Boolean =
      (filterActs.contains(e.activity) || e.resource == filterResource) &&
        e.tsMicros > filterAfterMicros
    lazy val filtered: Vector[Vector[Ev]] =
      traces.map(_.events.filter(keeps)).filter(_.nonEmpty)
    lazy val filteredEvents: Long = filtered.map(_.size.toLong).sum
    lazy val filteredDfg: Map[(String, String), Long] =
      dfg(filtered.map(_.map(_.activity)))
    lazy val filteredVariants: Long =
      filtered.map(_.map(_.activity)).distinct.size.toLong
  }

  /** The process model behind log slot `i`. It depends on the slot
    * only, not on the seed: the cost of mining a log depends strongly
    * on its model (alphabet size, concurrency, loops), so every seed
    * keeps the same model mix and draws only the traces, resources,
    * timestamps, costs and filters. */
  def slotModel(i: Int): Node = {
    val rnd = new SplittableRandom(0x5eed0000L + i)
    model(rnd, 8 + rnd.nextInt(13)) // 8..20 activities: Alpha.mine caps at 20
  }

  def xesLogs(seed: Long, dir: Path): Vector[LogTruth] = {
    Files.createDirectories(dir)
    val root = new SplittableRandom(seed)
    LogSizes.zipWithIndex.map { case (size, i) =>
      val rnd = root.split()
      val ts = traces(rnd, slotModel(i), size)
      val path = dir.resolve(f"log_$i%02d.xes")
      Files.write(path, renderXes(ts).getBytes(StandardCharsets.UTF_8))
      val allActs = ts.flatMap(_.events.map(_.activity)).distinct.sorted
      val keepActs = allActs.filter(_ => rnd.nextDouble() < 0.7).toSet
      val span = ts.last.events.last.tsMicros - EpochMicros
      LogTruth(path.toString, ts.size.toLong, ts.map(_.events.size.toLong).sum,
        ts, keepActs, Resources(rnd.nextInt(Resources.size)),
        EpochMicros + (span * 0.1).toLong)
    }
  }

  def renderXes(ts: Vector[Trace]): String = {
    val sb = new java.lang.StringBuilder(ts.size * 600)
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      .append("<log xes.version=\"1.0\" xes.features=\"nested-attributes\">\n")
      .append("\t<extension name=\"Concept\" prefix=\"concept\" uri=\"http://www.xes-standard.org/concept.xesext\"/>\n")
      .append("\t<extension name=\"Organizational\" prefix=\"org\" uri=\"http://www.xes-standard.org/org.xesext\"/>\n")
      .append("\t<extension name=\"Time\" prefix=\"time\" uri=\"http://www.xes-standard.org/time.xesext\"/>\n")
      .append("\t<classifier name=\"Activity\" keys=\"concept:name\"/>\n")
    ts.zipWithIndex.foreach { case (t, i) =>
      sb.append("\t<trace>\n\t\t<string key=\"concept:name\" value=\"case_")
        .append(i).append("\"/>\n")
      t.events.foreach { e =>
        sb.append("\t\t<event>\n\t\t\t<string key=\"concept:name\" value=\"")
          .append(e.activity).append("\"/>\n\t\t\t<string key=\"org:resource\" value=\"")
          .append(e.resource).append("\"/>\n\t\t\t<date key=\"time:timestamp\" value=\"")
          .append(Instant.ofEpochSecond(e.tsMicros / 1000000L, (e.tsMicros % 1000000L) * 1000L))
          .append("\"/>\n\t\t\t<int key=\"cost\" value=\"")
          .append(e.cost).append("\"/>\n\t\t</event>\n")
      }
      sb.append("\t</trace>\n")
    }
    sb.append("</log>\n").toString
  }

  // ---------------------------------------------------------------
  // Text corpus (corpus_dedup)
  // ---------------------------------------------------------------

  /** Closed-class words: the quality filter needs a stopword share and
    * the language predictor needs marker words. */
  val Stopwords: Vector[String] =
    Vector("the", "a", "of", "and", "in", "to", "is", "that", "it", "for", "on", "with")

  /** Zipf vocabulary of alphabetic tokens, stopwords at the head. */
  def vocabulary(rnd: SplittableRandom, n: Int): Vector[String] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    Stopwords.foreach(words += _)
    while (words.size < n) {
      val len = 3 + rnd.nextInt(8)
      words += (0 until len).map(_ => letters(rnd.nextInt(26))).mkString
    }
    words.toVector
  }

  final class Zipf(rnd: SplittableRandom, n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r.toDouble, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  final case class Doc(id: Long, text: String)
  final case class CorpusTruth(
      docs: Vector[Doc],
      exactGroups: Set[Set[Long]],
      nearPairs: Vector[(Long, Long)],
      keptIds: Set[Long])

  /** `n` documents: unique base documents plus planted exact duplicates
    * (case and surrounding space changes only, which the exact dedup
    * normalizes away) and near duplicates (a share `editRate` of the
    * tokens, at least one, replaced by a different word). Some base documents carry an e-mail address or a phone
    * number for the PII redactor, and a small share are junk (digits
    * and symbols) that the quality filter must drop. */
  def corpus(seed: Long, n: Int, exactFrac: Double, nearFrac: Double,
      editRate: Double): CorpusTruth = {
    val rnd = new SplittableRandom(seed ^ 0x5deece66dL)
    val vocab = vocabulary(rnd, 5000)
    val zipf = new Zipf(rnd, vocab.size, 1.07)
    val docs = ArrayBuffer.empty[Doc]
    val exact = ArrayBuffer.empty[Set[Long]]
    val near = ArrayBuffer.empty[(Long, Long)]
    val junk = scala.collection.mutable.HashSet.empty[Long]
    val nExact = (n * exactFrac).toInt
    val nNear = (n * nearFrac).toInt
    val nBase = n - nExact - nNear
    def sentence(len: Int): Vector[String] = Vector.fill(len)(vocab(zipf.next()))
    var id = 0L
    while (docs.size < nBase) {
      val u = rnd.nextDouble()
      val text =
        if (u < 0.03) {
          junk += id
          Vector.fill(20 + rnd.nextInt(20))(f"${rnd.nextInt(100000)}%d#${rnd.nextInt(100)}%d").mkString(" ")
        } else {
          val toks = sentence(30 + rnd.nextInt(40))
          val tail =
            if (u < 0.06) s" contact user${rnd.nextInt(1000)}@example.org"
            else if (u < 0.09) f" call +1 555 ${rnd.nextInt(1000)}%03d ${rnd.nextInt(10000)}%04d"
            else ""
          toks.mkString(" ") + tail
        }
      docs += Doc(id, text)
      id += 1
    }
    val base = docs.toVector.filterNot(d => junk.contains(d.id))
    val groups = scala.collection.mutable.HashMap.empty[Long, Set[Long]]
    (0 until nExact).foreach { _ =>
      val src = base(rnd.nextInt(base.size))
      val variant =
        if (rnd.nextBoolean()) "  " + src.text.toUpperCase + " " else src.text + "   "
      docs += Doc(id, variant)
      groups(src.id) = groups.getOrElse(src.id, Set(src.id)) + id
      id += 1
    }
    exact ++= groups.values
    (0 until nNear).foreach { _ =>
      val src = base(rnd.nextInt(base.size))
      val toks = src.text.split(" ").toArray
      val edits = math.max(1, math.round(toks.length * editRate).toInt)
      shuffle(rnd, toks.indices.toVector).take(edits).foreach { j =>
        var w = toks(j)
        while (w == toks(j)) w = vocab(rnd.nextInt(vocab.size))
        toks(j) = w
      }
      docs += Doc(id, toks.mkString(" "))
      near += ((src.id, id))
      id += 1
    }
    val shuffled = shuffle(rnd, docs.toVector)
    CorpusTruth(shuffled, exact.toSet, near.toVector,
      shuffled.map(_.id).filterNot(junk.contains).toSet)
  }
}
