package graft.similarity

import org.apache.spark.sql.SparkSession

import graft.sources.{CommitSlot, LiveTable}

/** Generation pointer for persisted-index quantizer state: the tiny
  * mutable object behind [[IvfIndex]]'s and [[PqIndex]]'s atomic
  * publishes. Trained state (centroids, codebooks, drift baselines)
  * lives in GENERATION-suffixed catalog tables; the live generation is
  * named by one JSON pointer file in the owning database's directory,
  * swapped with an atomic rename (the Versioned/ClusterLedger
  * manifest discipline applied to catalog tables) — a crash anywhere
  * before the swap leaves readers on the previous generation's intact
  * state, and superseded/orphaned generations are reclaimed by the
  * index's vacuum. */
private[similarity] object GenPointer {

  def file(spark: SparkSession, table: String, kind: String): java.io.File = {
    val (db, t) = LiveTable.splitName(spark, table)
    new java.io.File(LiveTable.databaseDir(spark, db), s"_${kind}_gen_$t.json")
  }

  private val GenRe = """"gen"\s*:\s*(\d+)""".r.unanchored

  def read(spark: SparkSession, table: String, kind: String): Option[Int] = {
    val f = file(spark, table, kind)
    if (!f.exists()) None
    else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") match {
      case GenRe(g) => Some(g.toInt)
      case text => sys.error(s"bad $kind generation pointer for $table: $text")
    }
  }

  def live(spark: SparkSession, table: String, kind: String): Int =
    read(spark, table, kind).getOrElse(sys.error(
      s"no $kind index generation pointer for $table — build the index first"))

  /** Atomic commit: write beside, rename over. */
  def swap(spark: SparkSession, table: String, kind: String, gen: Int): Unit =
    CommitSlot.writeAtomically(file(spark, table, kind), s"""{"gen": $gen}""")

  /** Drop every `<t>_<suffix>_gNNNNN` table of a generation other than
    * `keepGen`. Returns the dropped fully-qualified names. */
  def vacuum(spark: SparkSession, table: String, suffixes: Seq[String],
      keepGen: Int): Seq[String] = {
    val (db, t) = LiveTable.splitName(spark, table)
    val genRe = (java.util.regex.Pattern.quote(t) +
      "_(?:" + suffixes.mkString("|") + ")_g(\\d{5})").r
    val doomed = spark.catalog.listTables(db).collect().map(_.name).toSeq.flatMap {
      case n @ genRe(g) if g.toInt != keepGen => Some(s"$db.$n")
      case _ => None
    }.sorted
    doomed.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    doomed
  }
}
