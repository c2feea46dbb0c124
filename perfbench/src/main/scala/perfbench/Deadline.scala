package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Runs one operation on its own thread under a job group, so a deadline
  * miss cancels every Spark job the operation started (the jobs of a
  * driver-side loop are re-cancelled until the operation gives up) before
  * the next operation's clock starts.
  */
final class Deadline(spark: SparkSession) {
  private var seq = 0

  def run[T](seconds: Double)(body: => T): Deadline.Outcome[T] = {
    seq += 1
    val group = s"perfbench-op-$seq"
    val sc = spark.sparkContext
    val finished = new CountDownLatch(1)
    @volatile var result: Either[Throwable, T] = null
    val t = new Thread(() => {
      sc.setJobGroup(group, group, interruptOnCancel = true)
      try result = Right(body)
      catch { case e: Throwable => result = Left(e) }
      finally {
        sc.clearJobGroup()
        finished.countDown()
      }
    }, group)
    t.setDaemon(true)
    t.start()
    if (finished.await((seconds * 1e9).toLong, TimeUnit.NANOSECONDS))
      result match {
        case Right(v) => Deadline.Done(v)
        case Left(e) => Deadline.Threw(e)
      }
    else {
      val giveUp = System.nanoTime() + Deadline.GraceNs
      while (!finished.await(100, TimeUnit.MILLISECONDS)) {
        if (System.nanoTime() > giveUp)
          throw new IllegalStateException(s"$group ignored cancellation")
        sc.cancelJobGroup(group)
        t.interrupt()
      }
      Deadline.Missed
    }
  }
}

object Deadline {
  /** How long a cancelled operation may take to stop before the run aborts. */
  val GraceNs: Long = 60L * 1000000000L

  sealed trait Outcome[+T]
  final case class Done[T](value: T) extends Outcome[T]
  final case class Threw(error: Throwable) extends Outcome[Nothing]
  case object Missed extends Outcome[Nothing]
}
