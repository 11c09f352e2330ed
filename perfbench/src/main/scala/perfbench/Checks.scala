package perfbench

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{BooleanType, LongType, StructType}

/** The harness's own answers and verdicts, independent of the program. */
object Checks {

  /** Connected components of an undirected pair list by union-find,
    * as clustersOf's output rows: (doc_id, cluster_id = component
    * minimum, is_canonical), one per node that appears in a pair.
    */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- pairs) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // the root is always the component minimum
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  val ClusterSchema: StructType = new StructType()
    .add("doc_id", LongType).add("cluster_id", LongType).add("is_canonical", BooleanType)

  /** The digest clustersOf's result must have for these labels. */
  def clusterDigest(labels: Map[Long, Long]): Digest =
    Digest.of(ClusterSchema, labels.map { case (id, lab) =>
      InternalRow(id, lab, id == lab) })

  /** A call's verdict: it failed if it threw, missed its deadline, or its
    * result differs from the reference that the run's checks validated.
    */
  def verdict(outcome: Either[String, Digest], reference: Option[Digest]): Option[String] =
    outcome match {
      case Left(err) => Some(err)
      case Right(d) if reference.isEmpty => Some(s"no reference digest (got $d)")
      case Right(d) if !reference.contains(d) => Some(s"digest $d != reference ${reference.get}")
      case _ => None
    }

  /** Run `body` on its own thread with a deadline. On expiry `cancel`
    * runs (cancel jobs, stop streams) and the thread is given
    * `graceS` to unwind. The thread inherits the caller's thread-local
    * state (Spark local properties) because it is created here.
    */
  def withDeadline[T](deadlineS: Double, graceS: Double = 30.0)(cancel: () => Unit)(
      body: => T): Either[String, T] = {
    val pool = Executors.newSingleThreadExecutor()
    try {
      val f = pool.submit(new Callable[T] { def call(): T = body })
      try Right(f.get((deadlineS * 1000).toLong, TimeUnit.MILLISECONDS))
      catch {
        case _: TimeoutException =>
          scala.util.Try(cancel())
          f.cancel(true)
          pool.shutdown()
          pool.awaitTermination((graceS * 1000).toLong, TimeUnit.MILLISECONDS)
          Left(f"deadline ${deadlineS}%.0f s exceeded")
        case e: ExecutionException =>
          val c = Option(e.getCause).getOrElse(e)
          Left(s"${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).take(300)}")
      }
    } finally pool.shutdownNow()
  }
}
