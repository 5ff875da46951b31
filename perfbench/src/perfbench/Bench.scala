package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Checkpoints

/** One timed call into the program. `pass` is -1 during warm-up;
  * `spark` is filled in traced passes only. */
final case class OpRecord(name: String, kind: String, pass: Int, traced: Boolean,
    ms: Double, buildMs: Double, actionMs: Double, ok: Boolean, error: String,
    spark: Option[OpSpark])

/** Process CPU time (excludes time a virtual CPU spent stolen by the
  * host) and the host's steal counters, for telling the program's work
  * apart from its neighbours' interference. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds: Double = os.getProcessCpuTime / 1e9

  /** (steal, total) jiffies over all CPUs, where /proc/stat exists. */
  def stealTicks: (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists()) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val v = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (v.length > 7) v(7) else 0L, v.sum)
      } finally src.close()
    }
  }
}

/** Runs operations one at a time (a closed loop with one client),
  * timing each, and handles the operation boundary outside the timed
  * region: block storage is sampled, then checkpoints are released. */
final class Bench(val spark: SparkSession, val tracer: Option[Tracer]) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  var pass = -1
  var traced = false
  var peakStorageBytes = 0L
  var released = 0L
  var releaseMs = 0.0

  private def active: Option[Tracer] = if (traced) tracer else None

  /** A named part of an operation ("build" or "action"), timed and,
    * when tracing, recorded as a span. */
  final class Phases {
    var buildMs, actionMs = 0.0
    def apply[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try active.fold(body)(_.span(phase, phase)(body))
      finally {
        val ms = (System.nanoTime() - t0) / 1e6
        if (phase == "build") buildMs += ms else actionMs += ms
      }
    }
  }

  /** Time one operation. `body` returns whether its output checked out;
    * a throw counts as a failure, never as a timed success. */
  def op(name: String, kind: String)(body: Phases => Boolean): Unit = {
    val sc = spark.sparkContext
    active.foreach(_ => sc.setJobGroup(s"$name#$pass", name))
    val ph = new Phases
    var ms = 0.0
    def timed(): (Boolean, String) = {
      val t0 = System.nanoTime()
      try {
        val ok = active.fold(body(ph))(_.span(name, "op")(body(ph)))
        (ok, if (ok) "" else "output did not match the check")
      } catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally ms = (System.nanoTime() - t0) / 1e6
    }
    val ((ok, err), stats) = active match {
      case Some(t) => val (r, s) = t.measure(timed()); (r, Some(s))
      case None => (timed(), None)
    }
    active.foreach(_ => sc.clearJobGroup())
    boundary()
    records += OpRecord(name, kind, pass, traced, ms, ph.buildMs, ph.actionMs, ok,
      Option(err).getOrElse("").take(300), stats)
  }

  private def boundary(): Unit = {
    val held = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    peakStorageBytes = math.max(peakStorageBytes, held)
    val t0 = System.nanoTime()
    released += Checkpoints.releaseAll()
    releaseMs += (System.nanoTime() - t0) / 1e6
  }
}

object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private def hashable(df: DataFrame): Seq[org.apache.spark.sql.Column] =
    df.schema.fields.toSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }

  /** Row count and an order-independent digest over every column, so
    * no output column can be pruned away. */
  def of(df: DataFrame): String = {
    val r = df.select(xxhash64(hashable(df): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }
}
