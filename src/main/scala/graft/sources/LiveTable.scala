package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generation-versioned catalog tables behind a stable VIEW — the
  * commit primitive that makes the persisted-index family's
  * maintenance ZERO-DOWNTIME (SURVEY.md §2.3/24e6, r15).
  *
  * A live index name (`db.posts`) is a VIEW over exactly one physical
  * generation table (`db.posts__g00001`). Rewrites — compaction,
  * re-creates — stage the NEXT generation as a separate physical
  * table (the live one untouched while the expensive write runs) and
  * commit with ONE `CREATE OR REPLACE VIEW`: a single catalog op, the
  * [[Versioned]] manifest-rename discipline applied to catalog
  * tables. Consequences:
  *
  *  - a probe resolving the view mid-compact reads whichever
  *    generation was live at resolution — never a torn or missing
  *    table (the r14 DROP+RENAME swap's crash window, where the table
  *    was MISSING between the two ops, is structurally gone);
  *  - a crash before the swap leaves the staged generation as an
  *    inert orphan (swept by [[heal]] under the next compaction's
  *    claim, or by [[TableCompact.vacuumGens]]); a crash after the
  *    swap IS a commit;
  *  - superseded generations stay readable for in-flight probes until
  *    explicitly vacuumed (retain the previous generation, the
  *    [[Versioned.vacuum]] grace discipline).
  *
  * Query planning is unaffected: the view is `SELECT * FROM <gen>`,
  * which the analyzer collapses to the underlying relation — bucket
  * metadata (exchange-free probes) and partition pruning flow from
  * the physical table exactly as before (spec-pinned).
  *
  * Appends target the PHYSICAL table (views reject inserts):
  * [[insertPartitionOverwriteLive]] resolves, inserts, and re-checks
  * the resolution — an append racing a compaction's swap replays into
  * the new live generation (safe: per-drop partition overwrites are
  * idempotent), so the swapped-away write can never be silently lost.
  */
object LiveTable {

  private val GenSuffix = """__g(\d{5})$""".r.unanchored

  /** Physical table name of generation `gen`. */
  def gTable(table: String, gen: Int): String = f"${table}__g$gen%05d"

  /** (database, bare table) of a possibly-qualified table name. */
  def splitName(spark: SparkSession, table: String): (String, String) =
    table.lastIndexOf('.') match {
      case -1 => (spark.catalog.currentDatabase, table)
      case i => (table.substring(0, i), table.substring(i + 1))
    }

  /** The local directory of database `db`'s catalog location — where
    * the index family keeps its claim and pointer files. */
  def databaseDir(spark: SparkSession, db: String): java.io.File = {
    val loc = spark.catalog.getDatabase(db).locationUri
    if (loc.contains(":")) new java.io.File(new java.net.URI(loc).getPath)
    else new java.io.File(loc)
  }

  /** Every existing generation number of `table`, ascending. */
  def generations(spark: SparkSession, table: String): Seq[Int] = {
    val (db, bare) = splitName(spark, table)
    val genRe = (java.util.regex.Pattern.quote(bare) + "__g(\\d{5})").r
    spark.catalog.listTables(db).collect().map(_.name).toSeq.collect {
      case genRe(g) => g.toInt
    }.sorted
  }

  private def ident(spark: SparkSession, table: String) =
    spark.sessionState.sqlParser.parseTableIdentifier(table)

  private def isView(spark: SparkSession, table: String): Boolean =
    spark.sessionState.catalog.getTableMetadata(ident(spark, table)).tableType ==
      org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW

  /** The physical data table behind `table`: the generation its VIEW
    * names, or `table` itself when it is a plain pre-generation
    * TABLE (the legacy layout — [[TableCompact.compact]] upgrades it
    * on its first pass). */
  def resolve(spark: SparkSession, table: String): String =
    if (!spark.catalog.tableExists(table)) table
    else if (!isView(spark, table)) table
    else {
      val text = spark.sessionState.catalog.getTableMetadata(ident(spark, table))
        .viewText.getOrElse(sys.error(s"view $table has no definition text"))
      // our own swap writes `SELECT * FROM <db>.<bare>__gNNNNN`
      val FromRe = """(?is)FROM\s+([`\w.]+__g\d{5})""".r.unanchored
      text match {
        case FromRe(phys) => phys.replace("`", "")
        case _ => sys.error(
          s"view $table does not name a generation table (text: $text) — " +
            "not a LiveTable-managed index")
      }
    }

  /** The live generation number (None for a legacy plain table or a
    * table that doesn't exist yet). */
  def liveGen(spark: SparkSession, table: String): Option[Int] =
    resolve(spark, table) match {
      case GenSuffix(g) => Some(g.toInt)
      case _ => None
    }

  /** Atomic commit: point the view at generation `gen` — one catalog
    * op, readers see the old generation until it lands and the new
    * one after, never anything between. */
  def swap(spark: SparkSession, table: String, gen: Int): Unit =
    spark.sql(s"CREATE OR REPLACE VIEW $table AS SELECT * FROM ${gTable(table, gen)}")

  /** Write a NEW generation with `write` (receives the physical table
    * name to saveAsTable into) and commit the view to it — the
    * create/re-create path: a first create publishes g1; a re-create
    * stages g(N+1) while probes keep reading gN and swaps when the
    * write completes, so even full rebuilds are zero-downtime. */
  def createGeneration(spark: SparkSession, table: String)(write: String => Unit): Unit = {
    val gen = liveGen(spark, table).map(_ + 1).getOrElse(1)
    write(gTable(table, gen))
    swap(spark, table, gen)
  }

  /** Per-drop FILE fingerprints of a physical table: drop id → md5 of
    * its partition's sorted file names. The facts behind the
    * append-vs-compact race resolution: a drop's identity alone can't
    * say whether a compaction consumed THIS append's rows (an
    * idempotent re-publish of an existing drop id changes content but
    * not the partition name) — its file names can, because every
    * partition overwrite writes fresh part-file names. */
  def dropFingerprints(spark: SparkSession, physical: String): Map[String, String] =
    spark.table(physical).inputFiles.toSeq.flatMap { f =>
      val i = f.indexOf("/drop_id=")
      if (i < 0) None
      else {
        val esc = f.substring(i + 9).takeWhile(_ != '/')
        Some(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(esc) -> f)
      }
    }.groupBy(_._1).map { case (d, fs) =>
      d -> md5Hex(fs.map(_._2).sorted.mkString("\n"))
    }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** What a generation's staging CONSUMED, recorded by
    * [[TableCompact.compact]] as a table property before the swap:
    * drop id → the md5 file fingerprint of the partition AS CONSUMED
    * (ids base64-coded in the property, so arbitrary drop ids —
    * commas, spaces — round-trip exactly). Empty for tables without
    * the record (re-created generations, legacy tables). */
  def consumedDropFingerprints(spark: SparkSession, physical: String): Map[String, String] =
    spark.sessionState.catalog.getTableMetadata(ident(spark, physical))
      .properties.get("graft.consumed_drops_v2")
      .map(_.split(';').toSeq.filter(_.contains(':')).map { e =>
        val i = e.indexOf(':') // ':' is not in the base64 alphabet
        new String(java.util.Base64.getDecoder.decode(e.substring(0, i)), "UTF-8") ->
          e.substring(i + 1)
      }.toMap)
      .getOrElse(Map.empty)

  /** The drop ids a generation consumed (see
    * [[consumedDropFingerprints]]). */
  def consumedDrops(spark: SparkSession, physical: String): Set[String] =
    consumedDropFingerprints(spark, physical).keySet

  private[graft] def renderConsumed(fps: Map[String, String]): String =
    fps.toSeq.sortBy(_._1).map { case (d, fp) =>
      java.util.Base64.getEncoder.encodeToString(d.getBytes("UTF-8")) + ":" + fp
    }.mkString(";")

  // test seam: runs between the insert and its pointer re-check so a
  // spec can interleave a compaction deterministically
  private[graft] var afterInsertHook: () => Unit = () => ()

  /** [[Warehouse.insertPartitionOverwrite]] against the LIVE
    * generation, replay-safe under a concurrent compaction. If the
    * view moved while the insert ran, the cases are told apart by the
    * new generation's consumed-drops record, compared on FILE
    * FINGERPRINTS, not drop names:
    *
    *  - the record's fingerprint for `dropId` equals the fingerprint
    *    of the files THIS append just wrote → the compaction's staging
    *    consumed exactly these rows; they are already in the new
    *    generation's base, and a blind replay would DUPLICATE them →
    *    done;
    *  - anything else (no record entry, or a DIFFERENT fingerprint —
    *    the compaction consumed an older incarnation of this drop id
    *    and this append's overwrite landed after its staging scan) →
    *    REPLAY into the new live generation; the per-drop partition
    *    overwrite makes the replay idempotent, so this append's rows
    *    win, exactly the partition-overwrite contract.
    *
    * A re-created generation carries no record: the drop replays into
    * it — coordinate re-creates with concurrent appends the same way
    * as before (re-create rebuilds from the caller's corpus). */
  def insertPartitionOverwriteLive(df: DataFrame, table: String, dropId: String): Unit = {
    val spark = df.sparkSession
    var phys = resolve(spark, table)
    var committed = false
    while (!committed) {
      Warehouse.insertPartitionOverwrite(df, phys)
      val myFp = dropFingerprints(spark, phys).get(dropId)
      afterInsertHook()
      val now = resolve(spark, table)
      if (now == phys ||
          (myFp.isDefined && consumedDropFingerprints(spark, now).get(dropId) == myFp))
        committed = true
      else phys = now
    }
  }

  /** Drop every generation table of `table` except the live one and
    * (by default) its immediate predecessor — the in-flight-probe
    * grace set. Also sweeps orphan generations ABOVE the live one (a
    * crashed compaction's staging). Call from maintenance, ideally
    * under the table's compaction claim. Returns dropped names. */
  def vacuumGens(spark: SparkSession, table: String,
      keepPrevious: Boolean = true): Seq[String] = {
    val live = liveGen(spark, table).getOrElse(return Nil)
    val (db, bare) = splitName(spark, table)
    val doomed = generations(spark, table)
      .filterNot(g => g == live || (keepPrevious && g == live - 1))
      .map(g => s"$db.${gTable(bare, g)}")
    doomed.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    doomed
  }
}
