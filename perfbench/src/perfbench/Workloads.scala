package perfbench

import java.io.File

import scala.collection.immutable.HashMap
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry
import graft.sources.Versioned

/** A named set of operations. `prepare` is the workload's part of
  * set-up, repeated `copy` = 0, 1, … times; `warmup` runs every operation
  * once, untimed, and records what later passes are checked against. */
trait Workload {
  def prepare(inputDir: String, copy: Int): Unit
  def warmup(b: Bench): Unit
  def pass(b: Bench, p: Int): Unit
  /** End-of-run checks (failures are recorded as operations) and
    * workload-specific figures as JSON fields. */
  def finish(b: Bench): Seq[(String, String)] = Nil
}

/** SparkEntry queries over generated tables. Warm-up writes each
  * output as parquet for the DuckDB oracle check and keeps its row
  * count and digest; each timed run of a query builds it (time inside
  * the SparkEntry lambda, where eager checkpoint loops run) and
  * materialises every output column, and must reproduce that digest. */
final class QueryWorkload(spark: SparkSession, seed: Long, names: Seq[String],
    checkDir: String) extends Workload {
  private var dir = ""
  val reference = mutable.LinkedHashMap.empty[String, String]

  def prepare(inputDir: String, copy: Int): Unit = {
    dir = inputDir
    // open every input once, as a session's first query would
    new File(inputDir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach(f => spark.read.parquet(f.getPath).schema)
  }

  private def order(p: Int): Seq[String] = new scala.util.Random(seed * 7919 + p).shuffle(names)

  def warmup(b: Bench): Unit = {
    order(-1).foreach { n =>
      b.op(n, "query") { ph =>
        val df = ph("build")(SparkEntry.queries(n)(spark, dir))
        ph("action") {
          df.write.mode("overwrite").parquet(s"$checkDir/$n")
          reference(n) = Digest.of(spark.read.parquet(s"$checkDir/$n"))
        }
        true
      }
    }
    // one more run of each query as the timed passes make it: a first
    // timed pass still ran 20-50 % slower than the later ones (JIT)
    pass(b, -2)
  }

  def pass(b: Bench, p: Int): Unit = order(p).foreach { n =>
    b.op(n, "query") { ph =>
      val df = ph("build")(SparkEntry.queries(n)(spark, dir))
      val d = ph("action")(Digest.of(df))
      reference.get(n).contains(d)
    }
  }

  override def finish(b: Bench): Seq[(String, String)] = Seq(
    "oracle_sql" -> Json.obj(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> Json.str(_)))),
    "checked" -> Json.arr(reference.keys.toSeq.map(Json.str)))
}

/** The versioned warehouse under writes and reads. Set-up publishes a
  * bucketed table over the corpus with zone maps and a key Bloom
  * filter. Warm-up runs one patch and one fold; each timed pass then
  * runs one patch, so pending delta layers accumulate as they do
  * between maintenance runs. A pass that finds [[LayerCeiling]] layers
  * first folds them, as maintenance that `wall_s` leaves out, so pass
  * `p` always sees the same layer count, however many passes a run
  * makes, and `Versioned.patch`'s layer limit is never reached. After
  * every write come point lookups
  * on live, deleted and never-seen keys, zone-pruned range reads on
  * `doc_id` and `source`, and one time-travel read. Upserted, deleted
  * and inserted keys come from the seed. A driver-side key → row model
  * checks every read, and a full read at the end. */
final class WarehouseWorkload(spark: SparkSession, seed: Long, workDir: String)
    extends Workload {
  import WarehouseWorkload._

  private val roots = mutable.Map.empty[Int, String]
  private val rng = new scala.util.Random(seed)
  private var root = ""
  private var model: Model = HashMap.empty
  private val versionModel = mutable.Map.empty[Int, Model]
  private val digests = mutable.Map.empty[Int, String]
  private var deleted = Vector.empty[Long]
  private var nextNew = NewKeyBase
  private var version = 0
  var dropBytes = 0L
  private var rootBytesAtStart = 0L
  val layerCounts = mutable.ArrayBuffer.empty[Int]
  var rowsUpserted = 0L
  private var corpus = ""

  def prepare(inputDir: String, copy: Int): Unit = {
    val docs = spark.read.parquet(s"$inputDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val r = s"$workDir/wh$copy/corpus"
    val rep = Versioned.promoteBucketed(docs, r, "doc_id", Buckets,
      zoneCols = Seq("doc_id", "source"), keyBloomBits = BloomBits)
    require(rep.promoted, s"promote refused: ${rep.reason}")
    roots(copy) = r
    corpus = inputDir
  }

  /** The corpus as the key → row model, read once outside any timing. */
  private lazy val initial: Model = HashMap.from(
    spark.read.parquet(s"$corpus/documents.parquet").select("doc_id", "source", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))))

  private def use(copy: Int): Unit = {
    root = roots(copy)
    model = initial
    version = Versioned.currentManifest(root).get.version
    versionModel.clear()
    versionModel(version) = model
    digests.clear()
    deleted = Vector.empty
  }

  /** Warm-up on the first copy, against its own model: a patch round,
    * then a fold checked by lookups. */
  def warmup(b: Bench): Unit = {
    use(0)
    round(b, WarmupLookups)
    fold(b)
    lookups(b, WarmupLookups)
  }

  def pass(b: Bench, p: Int): Unit = {
    if (p == 0) {
      require(roots.size > 1, "the timed passes need a set-up copy that warm-up did not write")
      use(roots.keys.max)
      rootBytesAtStart = Storage.bytesUnder(new File(root))
      dropBytes = 0L
      rowsUpserted = 0L
      layerCounts.clear()
    }
    if (layerCount >= LayerCeiling) fold(b)
    round(b, LookupsPerRound)
  }

  /** A patch, then the reads that check it. */
  private def round(b: Bench, lookupCount: Int): Unit = {
    patch(b)
    lookups(b, lookupCount)
    ranges(b)
    timeTravel(b)
  }

  private val dropSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("text", StringType), StructField("del", BooleanType)))

  /** A patch with seeded upserts, deletes and inserts of new keys. */
  private def patch(b: Bench): Unit = {
    val live = model.keysIterator.toVector
    val picked = rng.shuffle(live).take(Upserts + Deletes)
    val (ups, dels) = picked.splitAt(Upserts)
    val ins = (0 until Inserts).map { _ => nextNew += 1; nextNew }
    val tag = s" r${version + 1}"
    val rows =
      ups.map(k => Row(k, model(k)._1, model(k)._2 + tag, false)) ++
        dels.map(k => Row(k, null, null, true)) ++
        ins.map(k => Row(k, "ins", s"new doc $k$tag", false))
    val bytes = rows.map(r => 9L + Option(r.getString(1)).map(_.length).getOrElse(0) +
      Option(r.getString(2)).map(_.length).getOrElse(0)).sum
    val next = model -- dels ++ ups.map(k => k -> ((model(k)._1, model(k)._2 + tag))) ++
      ins.map(k => k -> (("ins", s"new doc $k$tag")))
    b.op("patch", "patch") { ph =>
      val drop = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), dropSchema)
      val r = ph("action")(Versioned.patch(drop, root, deleted = col("del")))
      val ok = r.patched && r.upserted == Upserts && r.inserted == Inserts && r.deleted == Deletes
      if (ok) {
        rowsUpserted += Upserts + Inserts
        dropBytes += bytes
        commit(r.version, next)
        deleted = deleted ++ dels
      }
      ok
    }
  }

  private def fold(b: Bench): Unit = b.op("fold", "fold") { ph =>
    val r = ph("action")(Versioned.foldDeltas(spark, root))
    if (r.merged) commit(r.version, model)
    r.merged
  }

  private def commit(v: Int, m: Model): Unit = {
    version = v
    model = m
    versionModel(v) = m
  }

  private def layerCount: Int =
    Versioned.currentManifest(root).flatMap(_.buckets).map(_.deltas.size).getOrElse(0)

  private def layers(): Unit = layerCounts += layerCount

  /** `n` point lookups: a tenth each on deleted and never-seen keys,
    * the rest on live keys. */
  private def lookups(b: Bench, n: Int): Unit = {
    val live = model.keysIterator.toVector
    val gone = math.max(1, n / 10)
    def unseen = UnseenKeyBase + rng.nextInt(1000000)
    val keys = Vector.fill(n - 2 * gone)(live(rng.nextInt(live.size))) ++
      Vector.fill(gone)(if (deleted.nonEmpty) deleted(rng.nextInt(deleted.size)) else unseen) ++
      Vector.fill(gone)(unseen)
    rng.shuffle(keys).foreach { k =>
      layers()
      b.op("lookup", "lookup") { ph =>
        val rows = ph("action")(Versioned.lookup(spark, root, k).collect())
        model.get(k) match {
          case Some((src, txt)) =>
            rows.length == 1 && rows(0).getAs[String]("source") == src &&
              rows(0).getAs[String]("text") == txt
          case None => rows.isEmpty
        }
      }
    }
  }

  /** Zone-pruned range reads: a `doc_id` window and one `source` value. */
  private def ranges(b: Bench): Unit = {
    val keys = model.keysIterator.filter(_ < NewKeyBase).toVector
    val lo = keys(rng.nextInt(keys.size))
    val hi = lo + RangeWidth
    layers()
    b.op("range_doc_id", "range") { ph =>
      val rows = ph("action")(Versioned.readRange(spark, root, "doc_id", lo, hi).collect())
      sameRows(rows, model.filter { case (k, _) => k >= lo && k <= hi })
    }
    val src = s"src${rng.nextInt(20)}"
    layers()
    b.op("range_source", "range") { ph =>
      val rows = ph("action")(Versioned.readRange(spark, root, "source", src, src).collect())
      sameRows(rows, model.filter { case (_, (s, _)) => s == src })
    }
  }

  private def sameRows(rows: Array[Row], expect: Model): Boolean =
    rows.length == expect.size && rows.forall { r =>
      expect.get(r.getAs[Long]("doc_id"))
        .contains((r.getAs[String]("source"), r.getAs[String]("text")))
    }

  private def timeTravel(b: Bench): Unit = {
    val older = versionModel.keys.filter(_ < version).toSeq.sorted
    val v = if (older.isEmpty) version else older(rng.nextInt(older.size))
    layers()
    b.op("read_version", "version") { ph =>
      val d = ph("action")(Digest.of(
        Versioned.readVersion(spark, root, v).select("doc_id", "source", "text")))
      d == digestOf(v)
    }
  }

  private def digestOf(v: Int): String = digests.getOrElseUpdate(v, Storage.digest(versionModel(v)))

  /** Full read of the final table against the model, then the storage
    * figures: write and space amplification under the table root. */
  override def finish(b: Bench): Seq[(String, String)] = {
    b.op("full_read_check", "check") { _ =>
      Digest.of(Versioned.read(spark, root).select("doc_id", "source", "text")) ==
        Storage.digest(model)
    }
    val under = Storage.bytesUnder(new File(root))
    val live = Storage.liveBytes(root)
    Seq(
      "write_amp" -> Json.num((under - rootBytesAtStart).toDouble / math.max(1L, dropBytes)),
      "space_amp" -> Json.num(under.toDouble / math.max(1L, live)),
      "bytes_under_root" -> under.toString,
      "drop_bytes" -> dropBytes.toString,
      "live_rows" -> model.size.toString,
      "delta_layers_mean" -> Json.num(
        if (layerCounts.isEmpty) 0.0 else layerCounts.sum.toDouble / layerCounts.size),
      "rows_upserted" -> rowsUpserted.toString)
  }
}

object WarehouseWorkload {
  type Model = HashMap[Long, (String, String)]
  val Buckets = 16
  val BloomBits: Int = 1 << 17
  val Upserts = 150
  val Deletes = 30
  val Inserts = 30
  /** Pending delta layers at which a pass folds before its patch;
    * below `Versioned.patch`'s default `maxDeltaLayers` of 8. */
  val LayerCeiling = 4
  val LookupsPerRound = 12
  val WarmupLookups = 4
  val RangeWidth = 400
  val NewKeyBase = 90000000L
  val UnseenKeyBase = 70000000L
}

object Storage {
  def bytesUnder(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  /** Bytes of the files the live manifest references: each bucket's
    * partition in its owning directory, plus every pending layer. */
  def liveBytes(root: String): Long = {
    val spec = Versioned.currentManifest(root).flatMap(_.buckets).get
    val owned = spec.owner.zipWithIndex.filter(_._1.nonEmpty)
      .map { case (dir, b) => bytesUnder(new File(s"$root/$dir/bkt=$b")) }.sum
    owned + spec.deltas.map(d => bytesUnder(new File(s"$root/$d"))).sum
  }

  /** The digest [[Digest.of]] computes, over the driver-side model. */
  def digest(m: WarehouseWorkload.Model): String = {
    var sum = BigInt(0)
    m.foreach { case (k, (src, txt)) =>
      var h = 42L
      h = XxHash64Function.hash(k, LongType, h)
      if (src != null) h = XxHash64Function.hash(UTF8String.fromString(src), StringType, h)
      if (txt != null) h = XxHash64Function.hash(UTF8String.fromString(txt), StringType, h)
      sum += h
    }
    s"${m.size}:$sum"
  }
}
