package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic multi-table transactions via a database-level snapshot log.
  *
  * Single-table commits are atomic already (write-once manifest files);
  * what no per-table log can give is a CROSS-table guarantee — a reader
  * must never observe table A's half of a transaction without table
  * B's. The catalog-level fix (the shape Iceberg reaches with
  * REST-catalog multi-table commits, and what Delta lacks natively): a
  * database snapshot log whose entries pin one version PER member
  * table. A transaction mutates member tables through their ordinary
  * commit paths — those versions exist but are UNPUBLISHED — then
  * publishes all of them in one write-once db-snapshot file. Readers
  * that go through the database resolve names against the latest
  * published snapshot, so they see either every table at its pre-txn
  * version or every table at its post-txn version, never a mix; a crash
  * between the table commits and the publish leaves only invisible
  * orphan versions (re-publishable or vacuumable), and because every db
  * snapshot is immutable, "the whole database AS OF txn T" is a free
  * cross-table time-travel read.
  *
  * Concurrency: publish is optimistic with a per-table monotonicity
  * invariant — a snapshot may only move a table's pin FORWARD. A lost
  * db-version put ([[LogStore.putIfAbsent]]) re-reads the winner and
  * retries; if the base snapshot (raced or not) already pins a NEWER
  * version of one of this txn's tables, a concurrent overlapping
  * transaction won and publish fails loudly rather than silently
  * rolling its data back.
  * Disjoint winners' pins are carried forward through the re-read.
  *
  * Scale: a snapshot file is O(member tables), never O(data); reads add
  * one tiny JSON lookup before the normal manifest-planned scan.
  * Reference analog: the benchmark's `USE $dbName` catalog scoping
  * (TPCDSBenchmark.scala:93) — here with atomicity across members.
  */
final class GraftDatabase(spark: SparkSession, val root: String) {
  private val rootPath = new Path(root)
  private val mapper = new ObjectMapper()

  private def fs: FileSystem =
    rootPath.getFileSystem(spark.sessionState.newHadoopConf())
  private def dbLog = new Path(rootPath, "_graft_db_log")
  private def snapPath(v: Int) = new Path(dbLog, f"v$v%010d.json")

  /** Member table accessor — tables live under the database root. */
  def table(name: String): SnapshotTable =
    new SnapshotTable(spark, new Path(rootPath, name).toString)

  /** Latest published db version, -1 when nothing is published yet. */
  def currentVersion: Int = {
    if (!fs.exists(dbLog)) return -1
    val vs = fs.listStatus(dbLog).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.substring(1, n.length - 5).toInt)
    if (vs.isEmpty) -1 else vs.max
  }

  /** The (table -> version) pins of a published snapshot. */
  def tableVersions(dbVersion: Int = -1): Map[String, Int] = {
    val v = if (dbVersion < 0) currentVersion else dbVersion
    require(v >= 0, s"database $root has no published snapshot")
    val node = mapper.readTree(LogStore.read(fs, snapPath(v)))
    val t = node.get("tables")
    val it = t.fieldNames()
    val b = Map.newBuilder[String, Int]
    while (it.hasNext) { val n = it.next(); b += n -> t.get(n).asInt() }
    b.result()
  }

  /** Run the mutations, then publish every named table's resulting
    * current version as ONE atomic db commit. Returns the db version.
    * The pins are captured IMMEDIATELY after the mutation, so a vacuum
    * racing in between the table commits and the publish is caught by
    * the publish-time manifest validation (the pinned versions no
    * longer exist → publish fails loudly) instead of silently
    * re-pinning the rolled-back pre-txn versions. */
  def transact(names: Seq[String])(mutate: GraftDatabase => Unit): Int = {
    mutate(this)
    publishPins(names.map(n => n -> table(n).currentVersion))
  }

  /** Publish the named tables' current versions (other members keep
    * their existing pins). The exclusive put of the snapshot file is
    * the atomicity point: it exists completely or not at all. */
  def publish(names: Seq[String]): Int =
    publishPins(names.map(n => n -> table(n).currentVersion))

  /** Publish EXPLICIT (table -> version) pins — the recovery face of
    * [[transact]]: a transaction records its members' commit versions
    * the moment it commits them, and (re-)publishes exactly those, so a
    * concurrent vacuum that reclaimed one of them as a crash orphan is
    * detected here (the pinned manifest no longer exists → fail loudly)
    * instead of surfacing as broken reads under a corrupt snapshot. */
  def publish(pins: Map[String, Int]): Int = publishPins(pins.toSeq)

  private def publishPins(pins: Seq[(String, Int)]): Int =
    GraftDatabase.lockFor(root).synchronized { publishPinsLocked(pins) }

  private def publishPinsLocked(pins: Seq[(String, Int)]): Int = {
    var attempts = 0
    while (true) {
      val cur = currentVersion
      val base = if (cur < 0) Map.empty[String, Int] else tableVersions(cur)
      // pin monotonicity: a newer pin in the base means a concurrent
      // overlapping txn already published past us — regressing it
      // would roll that txn's data back
      val regressed = pins.collect {
        case (n, v) if base.get(n).exists(_ > v) => n
      }
      if (regressed.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"db publish at $root: concurrent transaction already published " +
          s"newer versions of ${regressed.mkString(",")}")
      // vacuum/publish race: a concurrent vacuum treats every
      // unpublished version above the newest retained pin as a crash
      // orphan and rolls it back — if it reclaimed one of THIS txn's
      // versions, pinning it would publish dangling manifests that
      // break every subsequent reader. Validate the pinned versions
      // still exist (re-checked on every retry) and fail the PUBLISH,
      // not the readers. The mutation must be re-run; published state
      // is untouched.
      val reclaimed = pins.collect {
        case (n, v) if !table(n).versionExists(v) => s"$n@v$v"
      }
      if (reclaimed.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"db publish at $root: a concurrent vacuum reclaimed unpublished " +
          s"${reclaimed.mkString(",")} before this transaction could " +
          "publish — re-run the transaction")
      val next = cur + 1
      val json = {
        val n = mapper.createObjectNode()
        n.put("version", next)
        n.put("ts", System.currentTimeMillis())
        val t = n.putObject("tables")
        (base ++ pins).toSeq.sortBy(_._1).foreach { case (k, v) => t.put(k, v) }
        n.toString
      }
      if (LogStore.putIfAbsent(fs, snapPath(next), json)) return next
      // lost the db-version race — retry against the new base; the
      // pin-monotonicity check above decides on the next pass whether
      // the winner was disjoint (carry its pins forward) or overlapping
      // (fail loudly)
      attempts += 1
      if (attempts > 20) throw new IllegalStateException(
        s"db publish at $root: still racing after $attempts attempts")
    }
    -1 // unreachable
  }

  /** Consistent read: `name` at the version pinned by the (latest or
    * given) published snapshot — unpublished table commits are
    * invisible here even though `table(name).read()` would see them. */
  def read(name: String, dbVersion: Int = -1): DataFrame =
    table(name).read(tableVersions(dbVersion)(name))

  /** Reclaim storage outside the retained published snapshots — the
    * "vacuumable" half of the orphan story (the other half is simply
    * re-[[publish]]ing). Two sweeps per member table, both bounded by
    * the retained pins so no published state is ever touched:
    *
    *  1. Crash orphans: UNPUBLISHED table versions ABOVE the member's
    *     newest retained pin (a transaction that committed its table
    *     halves but died before the atomic db publish) roll back via
    *     [[SnapshotTable.rollbackTo]] — by construction no db reader
    *     has ever observed them.
    *  2. History: versions BELOW the member's oldest retained pin
    *     reclaim through the table-level [[SnapshotTable.vacuum]]
    *     retention path, and db snapshot files below the oldest
    *     retained db version are dropped.
    *
    * Returns per-table counts of rolled-back orphan versions. Cost is
    * O(log records + reclaimed files) metadata and deletes — never a
    * data scan. */
  def vacuum(retainDbVersions: Int = 1): Map[String, Int] =
    GraftDatabase.lockFor(root).synchronized {
      vacuumLocked(retainDbVersions)
    }

  private def vacuumLocked(retainDbVersions: Int): Map[String, Int] = {
    require(retainDbVersions >= 1, "must retain at least the current snapshot")
    val cur = currentVersion
    require(cur >= 0, s"database $root has no published snapshot")
    val oldest = math.max(0, cur - retainDbVersions + 1)
    val retained = (oldest to cur).map(tableVersions(_))
    val members = retained.flatMap(_.keys).toSet
    val counts = members.toSeq.sorted.map { n =>
      val t = table(n)
      val pins = retained.flatMap(_.get(n))
      val rolledBack =
        if (t.currentVersion > pins.max) t.rollbackTo(pins.max) else 0
      t.vacuum(retainVersions = t.currentVersion - pins.min + 1)
      n -> rolledBack
    }.toMap
    (0 until oldest).foreach(v => fs.delete(snapPath(v), false))
    counts
  }
}

object GraftDatabase {
  /** Per-root monitor serializing [[GraftDatabase.vacuum]] against
    * [[GraftDatabase.publish]] within the driver JVM — the same
    * single-commit-point assumption the table-level commitLock makes.
    * The publish-time manifest validation alone is check-then-act (a
    * vacuum landing between the existence probe and the snapshot
    * create could still publish dangling pins); holding one lock
    * across both closes that window completely in-process, and the
    * validation stays as the cross-process / crash-recovery backstop. */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(root: String): Object =
    // normalize the key: two instances addressing one directory via
    // different spellings (trailing slash, scheme-qualified vs plain)
    // must map to the SAME monitor, or they silently fall back to the
    // weaker check-then-act manifest validation
    locks.computeIfAbsent(new Path(root).toUri.getPath, _ => new Object)
}
