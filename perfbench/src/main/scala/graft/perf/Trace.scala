package graft.perf

import scala.collection.mutable

/** One timed interval on the benchmark's clock (nanoseconds).
  * `parent` is -1 for a root; `op` numbers the operation (tick, read,
  * micro-batch) a span belongs to, -1 when it belongs to none.
  */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The benchmark's spans: opened around each public call the workload
  * makes, kept in memory, read when the run ends. Spark SQL executions
  * seen by [[SparkTrace]] join the tree as children of the innermost
  * span that was open when they started ([[adopt]]).
  */
final class Tracer {
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long, Long)]
  private var nextId = 0

  def spans: Seq[Span] = done.toSeq

  def span[A](name: String, op: Long = -1L)(f: => A): A = {
    val id = nextId
    nextId += 1
    val start = System.nanoTime()
    stack = (id, name, op, start) :: stack
    try f
    finally {
      val parent = stack.tail.headOption.map(_._1).getOrElse(-1)
      stack = stack.tail
      done += Span(id, name, parent, op, start, System.nanoTime())
    }
  }

  /** Nanoseconds on this tracer's clock for an epoch-millisecond time. */
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  /** Add an event-derived span under the innermost closed span that
    * contains its start. It is clipped to that parent: listener times
    * have millisecond resolution while the parent's have nanosecond.
    * Events outside every span are dropped (returns false).
    */
  def adopt(name: String, startNs: Long, endNs: Long): Boolean = {
    val holders = done.filter(s => s.startNs <= startNs && startNs < s.endNs)
    if (holders.isEmpty) false
    else {
      val p = holders.maxBy(_.startNs)
      val id = nextId
      nextId += 1
      done += Span(id, name, p.id, p.op, math.max(startNs, p.startNs),
        math.min(math.max(endNs, startNs), p.endNs))
      true
    }
  }

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  def seconds(name: String): Seq[Double] = named(name).map(_.seconds)

  def children(id: Int): Seq[Span] = done.filter(_.parent == id).toSeq

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val iv = children(s.id)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  /** Spans whose interval is not inside their parent's (must be none). */
  def misfits: Seq[Span] = {
    val byId = done.map(s => s.id -> s).toMap
    done.filter { s =>
      byId.get(s.parent).exists(p => s.startNs < p.startNs || s.endNs > p.endNs)
    }.toSeq
  }
}

/** Which module of this repository a Spark SQL execution belongs to,
  * read from its long call site (the stack Spark records when the
  * action starts): the innermost `graft.*` frame outside the benchmark
  * names the module. Inside a stream see [[streamLegs]].
  */
object Attribution {
  val LegNames: Seq[String] =
    Seq("scrub", "neardup", "ivf", "bm25", "int8", "bq", "ppl", "substr",
      "bpe")

  private def graftFrames(callSite: String): Seq[String] =
    callSite.split("\n").toSeq.map(_.trim.stripPrefix("at ").trim)
      .filter(f => f.startsWith("graft.") &&
        !f.startsWith("graft.perf.") && !f.startsWith("graft.Perf"))

  /** `graft.pipeline.Lake$.append(Lake.scala:79)` → `pipeline.Lake`;
    * every class of the HTTP connector → `sources.HttpSource`.
    */
  def module(callSite: String): Option[String] =
    graftFrames(callSite).headOption.map { f =>
      val cls = f.takeWhile(c => c != '(' ).split('.').dropRight(1)
        .mkString(".").takeWhile(_ != '$')
      val parts = cls.stripPrefix("graft.").split('.')
      if (parts.head == "sources") "sources.HttpSource"
      else parts.take(2).mkString(".")
    }

  /** Legs of the executions nested in streaming micro-batches. A
    * running stream pins every execution's call site to the one its
    * query was started from, so inside a micro-batch the call site
    * names no leg. Each leg ends with writes into its own directory
    * (`legDirs`, most specific first), and the legs run one after
    * another: an execution belongs to the leg whose directory its plan
    * writes or reads, else to the leg of the next execution that does.
    * Root executions (the micro-batches themselves) are not labelled.
    */
  def streamLegs(execs: Seq[SqlExec], legDirs: Seq[(String, String)])
      : Map[Long, String] = {
    def direct(e: SqlExec): Option[String] =
      legDirs.collectFirst { case (d, l) if e.plan.contains(d + "/") => l }
    execs.filter(e => e.id != e.root).groupBy(_.root).values.flatMap { es =>
      var next: Option[String] = None
      es.sortBy(e => (e.startMs, e.id)).reverse.flatMap { e =>
        next = direct(e).orElse(next)
        next.map(e.id -> _)
      }
    }.toMap
  }
}
