package graft.ops

import org.scalacheck.Gen

/** ScalaCheck event logs for the variant-table properties: traces run
  * a random block-structured model — sequence, choice, parallel blocks
  * and loops, as the benchmark generator builds them — over an
  * alphabet with null activities, names containing `>` (so `"a>b"`
  * and `a, b` collide as strings), non-BMP names, and some traces cut
  * to one event. Within a case (ts, tie) is unique but ts alone ties,
  * and rows come in shuffled order. Case ids are longs, or zero-padded
  * numeric strings that keep the same order.
  */
object VariantLogGen {

  sealed trait Model
  final case class Act(name: String) extends Model
  final case class Seqn(parts: List[Model]) extends Model
  final case class Xor(parts: List[Model]) extends Model
  final case class And(parts: List[Model]) extends Model
  final case class Loop(body: Model, redo: Model) extends Model

  final case class Ev(caseId: Long, act: String, ts: Long, tie: Long)
  final case class Log(events: Seq[Ev], stringIds: Boolean) {
    /** Each case's activities in (ts, tie) order, nulls kept. */
    def traces: Map[Long, Seq[String]] =
      events.groupBy(_.caseId).map { case (c, es) =>
        c -> es.sortBy(e => (e.ts, e.tie)).map(_.act) }
  }

  val Alphabet: Seq[String] = Seq("a", "b", "c", "d", "e", "f", "a>b",
    "b>c", "𝔘", "😀x", null)

  private val act: Gen[Model] = Gen.frequency(
    (12, Gen.oneOf(Alphabet.filter(_ != null))), (1, Gen.const(null: String)))
    .map(Act(_))

  def model(depth: Int): Gen[Model] =
    if (depth == 0) act
    else {
      val parts = Gen.choose(2, 3).flatMap(n => Gen.listOfN(n, model(depth - 1)))
      Gen.frequency(
        (3, act),
        (3, parts.map(Seqn(_))),
        (2, parts.map(Xor(_))),
        (2, parts.map(And(_))),
        (1, Gen.zip(model(depth - 1), model(depth - 1)).map { case (b, r) => Loop(b, r) }))
    }

  /** One run of `m`: choices pick a branch, parallel blocks
    * interleave, loops redo up to twice. */
  def run(m: Model): Gen[List[String]] = m match {
    case Act(a) => Gen.const(List(a))
    case Seqn(ps) => Gen.sequence[List[List[String]], List[String]](ps.map(run))
      .map(_.flatten)
    case Xor(ps) => Gen.oneOf(ps).flatMap(run)
    case And(ps) => Gen.sequence[List[List[String]], List[String]](ps.map(run))
      .flatMap(interleave)
    case Loop(b, r) => Gen.choose(0, 2).flatMap { k =>
      Gen.sequence[List[List[String]], List[String]](
        run(b) :: List.fill(k)(Gen.zip(run(r), run(b)).map { case (x, y) => x ++ y }))
        .map(_.flatten)
    }
  }

  private def interleave(ls: List[List[String]]): Gen[List[String]] =
    ls.filter(_.nonEmpty) match {
      case Nil => Gen.const(Nil)
      case live => Gen.choose(0, live.size - 1).flatMap { i =>
        interleave(live.updated(i, live(i).tail)).map(live(i).head :: _)
      }
    }

  val log: Gen[Log] = for {
    m <- model(3)
    nCases <- Gen.choose(1, 14)
    traces <- Gen.listOfN(nCases,
      Gen.frequency((5, run(m).map(_.take(40))), (1, run(m).map(_.take(1)))))
    stringIds <- Gen.oneOf(false, true)
    order <- Gen.long
  } yield {
    val evs = traces.zipWithIndex.flatMap { case (t, c) =>
      val id = c * 7919L % 1009 + 1 // distinct, not in case order
      t.zipWithIndex.map { case (a, i) => Ev(id, a, i / 2, (i * 31 + 7) % 97) }
    }
    Log(new scala.util.Random(order).shuffle(evs), stringIds)
  }
}
