package perfbench

import graft.sources.{SnapshotTable, Tpcds}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.util.Random

/** A value with its unit and the number of samples behind it. */
final case class M(value: Double, unit: String, n: Int)

/** What every workload gets: the session, the recorder, the inputs. */
final case class Ctx(spark: SparkSession, rec: Recorder, seed: Long,
    seconds: Double, fixtures: String, workDir: String,
    golden: Map[String, Digest], recordDir: Option[String])

/** A closed-loop workload: set-up, a timed loop of at least
  * `ctx.seconds`, then result checks outside the timed region. */
trait Workload {
  def setup(): Unit
  def measure(): Unit
  def verify(): Unit
  /** The workload's own end-to-end metrics (reported beside the common ones). */
  def metrics(): Map[String, M]
  /** Per-layer metrics of the layers only this workload calls. */
  def layerMetrics(): Map[String, M]
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "tpcds_refresh" => new TpcdsRefresh(ctx)
    case "fixture_ops" => new FixtureOps(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def secs(ops: Seq[Op]): Seq[Double] = ops.map(_.secs)

  /** Latency metrics `<prefix>_p50_s` and `<prefix>_p90_s`. */
  def latency(prefix: String, xs: Seq[Double]): Map[String, M] = Map(
    s"${prefix}_p50_s" -> M(median(xs), "s", xs.size),
    s"${prefix}_p90_s" -> M(pct(xs, 0.9), "s", xs.size))

  def collect(df: DataFrame): (StructType, Array[Row]) = (df.schema, df.collect())

  /** Data files of a table: path -> (bytes, rows). */
  def files(t: SnapshotTable): Map[String, (Long, Long)] =
    t.files.map(f => f.path -> (f.bytes, f.rows)).toMap

  /** Bytes of the newest commit manifest in a table's log. */
  def manifestBytes(root: String): Long = {
    val logs = new java.io.File(root, "_graft_log").listFiles()
      .filter(_.getName.matches("\\d+\\.json"))
    if (logs.isEmpty) 0L else logs.maxBy(_.getName).length()
  }
}

/** Commit bookkeeping of a written table. */
final class CommitLog(t: SnapshotTable) {
  var commits, added, removed, bytesWritten, rowsChanged = 0L
  private var before = Workload.files(t)
  /** Average stored bytes per row of the table when the log started. */
  val bytesPerRow: Double =
    before.values.map(_._1).sum.toDouble / before.values.map(_._2).sum
  /** Record one commit (its changed rows are added to `rowsChanged`
    * separately, outside the timed calls). */
  def commit(): Unit = {
    val after = Workload.files(t)
    val fresh = after.keySet -- before.keySet
    added += fresh.size
    removed += (before.keySet -- after.keySet).size
    bytesWritten += fresh.toSeq.map(after(_)._1).sum
    commits += 1
    before = after
  }
  /** Data-file bytes written per byte of changed rows. */
  def writeAmp: Double =
    if (rowsChanged == 0) 0.0 else bytesWritten / (rowsChanged * bytesPerRow)
}

/** TPC-DS load plus the refresh protocol: `store_sales` in a 16-bucket
  * snapshot table; each round MERGEs ~3% updates and ~1.5% inserts into
  * one seed-chosen bucket and runs the protocol query block; then a
  * compaction and a final block. */
final class TpcdsRefresh(ctx: Ctx) extends Workload {
  import ctx._
  import Workload._
  private val part = "ss_part"
  private val keys = Seq("ss_item_sk", "ss_ticket_number", part)
  private val maxRounds = 10
  private val protocol = Seq(
    "q3" -> "TpcdsQueries2.q3Body", "q9" -> "TpcdsQueries.q9Body",
    "q34" -> "TpcdsQueries2.q34Body", "q42" -> "TpcdsQueries2.q42Body",
    "q59" -> "TpcdsQueries2.q59Body").map { case (q, ref) => q -> protocolSql(ref) }
  private val root = s"$workDir/store_sales"
  private val t = new SnapshotTable(spark, root)
  private var base: DataFrame = _
  private var maxTicket = 0L
  private var log: CommitLog = _
  private val buckets = mutable.ArrayBuffer.empty[Int]
  private var lastRoundBlock, finalBlock = Seq.empty[(Long, String, Digest)]
  private val deltas = mutable.ArrayBuffer.empty[DataFrame]

  /** The refresh protocol's query text is the program's own (the bodies
    * of its `tpcds_q*` entries, which are package-private constants). */
  private def protocolSql(ref: String): String = {
    val Array(obj, field) = ref.split('.')
    val cls = Class.forName(s"graft.operators.$obj$$")
    cls.getMethod(field).invoke(cls.getField("MODULE$").get(null)).asInstanceOf[String]
  }

  def setup(): Unit = {
    rec.op("Tpcds.ensure", "load", "sources.Tpcds")(Tpcds.ensure(spark, fixtures))
    val staged = spark.table("store_sales")
    base = staged.withColumn(part,
      pmod(coalesce(col("ss_sold_date_sk"), lit(0L)), lit(16)).cast(IntegerType))
    rec.op("SnapshotTable.create", "create", "sources.SnapshotTable")(
      t.create(base, partitionBy = Some(part)))
    maxTicket = staged.agg(max("ss_ticket_number")).collect()(0).getLong(0)
    log = new CommitLog(t)
    // warm-up: one round and a compaction compile every plan the timed
    // loop runs, as a long-lived session would have
    round()
    compact()
  }

  private def pick(round: Int, salt: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(lit(seed), lit(round * 2 + salt), col("ss_ticket_number")), lit(4))
  private def updated(round: Int, b: Int) = col(part) === b && pick(round, 0) < 2
  private def inserted(round: Int, b: Int): DataFrame =
    base.filter(col(part) === b && pick(round, 1) === 1)
      .withColumn("ss_ticket_number", col("ss_ticket_number") + lit(maxTicket * round))

  /** Round `round`'s MERGE source: updates of existing tickets in bucket
    * `b` (half of them, by seed) plus a quarter of them as new tickets. */
  private def delta(round: Int, b: Int): DataFrame =
    base.filter(updated(round, b)).withColumn("ss_quantity", col("ss_quantity") + 1)
      .unionByName(inserted(round, b))

  private def block(): Seq[(Long, String, Digest)] = {
    rec.op("SnapshotTable.read", "read_plan", "sources.SnapshotTable")(
      t.read().drop(part).createOrReplaceTempView("store_sales"))
    protocol.flatMap { case (q, sql) =>
      rec.op(s"tpcds.$q", "query", "spark.sql")(collect(spark.sql(sql)))
        .map { case (s, rows) => (rec.lastId, q, Digest.of(s, rows)) }
    }
  }

  private lazy val order = new Random(seed).shuffle((0 until 16).toList)

  /** A MERGE into the next seed-chosen bucket, then a query block. */
  private def round(): Unit = {
    val r = buckets.size + 1
    val d = delta(r, order(r - 1))
    if (rec.op("SnapshotTable.merge", "merge", "sources.SnapshotTable")(
        t.merge(d, keys, partitionBy = Some(part))).isDefined) {
      log.commit()
      deltas += d
    }
    buckets += order(r - 1)
    lastRoundBlock = block()
  }

  private def compact(): Unit =
    if (rec.op("SnapshotTable.compact", "compact", "sources.SnapshotTable")(
        t.compact(numFiles = 16, partitionBy = Some(part))).isDefined) log.commit()

  /** One round per 10 s of `seconds` (at least one), then a compaction
    * and a final block. The amount of work is fixed by `seconds`, not by
    * the clock, so that a slow moment of the machine does not change what
    * is measured. */
  def measure(): Unit = {
    val rounds = math.min(maxRounds - buckets.size, math.max(1, (seconds / 10).toInt))
    (1 to rounds).foreach(_ => round())
    compact()
    finalBlock = block()
  }

  /** The final state, computed from the staged table and the seed alone. */
  private def expected: DataFrame = {
    val rounds = buckets.zipWithIndex.map { case (b, i) => (i + 1, b) }
    val touched = rounds.map { case (r, b) => updated(r, b) }.foldLeft(lit(false))(_ || _)
    val kept = base.withColumn("ss_quantity",
      when(touched, col("ss_quantity") + 1).otherwise(col("ss_quantity")))
    rounds.map { case (r, b) => inserted(r, b) }.foldLeft(kept)(_ unionByName _)
  }

  /** The final table against the state computed from the seed; the final
    * block against the last round's block (compaction must not change an
    * answer); and one seed-chosen query of the final block against that
    * computed state. Rerunning the whole block over the computed state
    * would cost more than a round. */
  def verify(): Unit = {
    log.rowsChanged += deltas.map(_.count()).sum // counted outside the timed loop
    val want = expected.cache()
    val got = t.read().select(want.columns.map(col).toIndexedSeq: _*)
    val compactId = rec.measured.filter(_.kind == "compact").last.id
    rec.check(compactId, "final table state", Digest.inSpark(got), Digest.inSpark(want))
    val before = lastRoundBlock.map { case (_, q, d) => q -> d }.toMap
    finalBlock.foreach { case (id, q, digest) =>
      before.get(q).foreach(d => rec.check(id, s"tpcds.$q (final block)", digest, d))
    }
    want.drop(part).createOrReplaceTempView("store_sales")
    val (id, q, digest) = finalBlock(math.floorMod(seed, finalBlock.size.toLong).toInt)
    val (s, rows) = collect(spark.sql(protocol.toMap.apply(q)))
    rec.check(id, s"tpcds.$q (against the computed state)", digest, Digest.of(s, rows))
    want.unpersist()
  }

  def metrics(): Map[String, M] = {
    val ms = rec.okMeasured
    val merges = secs(ms.filter(_.kind == "merge"))
    val queries = ms.filter(_.kind == "query")
    val blocks = ms.filter(o => o.kind == "query" || o.kind == "read_plan")
      .grouped(protocol.size + 1).map(_.map(_.secs).sum).toSeq
    Map(
      "merge_total_s" -> M(merges.sum, "s", merges.size),
      "refresh_query_s" -> M(median(blocks), "s", blocks.size),
      "compact_s" -> M(secs(ms.filter(_.kind == "compact")).sum, "s", 1),
      "write_amp" -> M(log.writeAmp, "ratio", log.commits.toInt),
    ) ++ latency("query", queries.groupBy(_.name).values.map(o => median(secs(o))).toSeq)
  }

  def layerMetrics(): Map[String, M] =
    LoadLayer.metrics(rec, workDir) ++ TableLayer.metrics(rec, log, t, root)
}

/** Read-only operator entries over the single-file fixtures, one per
  * operator module, in sorted order rotated by the seed. */
final class FixtureOps(ctx: Ctx) extends Workload {
  import ctx._
  import Workload._
  val entries: Seq[(String, String)] = Seq(
    "q5_join6" -> "Relational", "events_funnel" -> "Analytics",
    "text_token_stats" -> "TextAnalysis", "dedup_exact" -> "Dedup",
    "text_search_inverted" -> "CorpusOps", "simsearch_topk" -> "Similarity").sortBy(_._1)
  /** Warm-up passes. On 4 cores the cold first pass took ~19 s (it also
    * builds the index `text_search_inverted` keeps for the session) and
    * the next ones ~5, ~4 and ~3.5 s, as the JIT compiled Spark's code
    * paths. Pass times kept falling for ten passes, but at a given pass
    * they differed between runs by only 5-9%, so a fixed number of passes
    * is what keeps runs comparable; two keep set-up short. */
  private val warmupPasses = 2
  private lazy val queries = graft.SparkEntry.queries
  private val recorded = mutable.LinkedHashMap.empty[String, Digest]

  private val order = {
    val shift = math.floorMod(seed, entries.size.toLong).toInt
    entries.drop(shift) ++ entries.take(shift)
  }

  def setup(): Unit = (1 to warmupPasses).foreach(_ => pass())

  /** One pass per 2.5 s of `seconds` (at least 3), about that long once
    * warm on 4 cores: a fixed amount of work, as in `TpcdsRefresh`. */
  def measure(): Unit = (1 to math.max(3, math.ceil(seconds / 2.5).toInt)).foreach(_ => pass())

  /** One pass over the entries; each result is checked against its golden digest. */
  private def pass(): Unit =
    order.foreach { case (name, module) =>
      rec.op(name, "query", s"operators.$module")(collect(queries(name)(spark, fixtures)))
        .foreach { case (s, rows) =>
          val id = rec.lastId
          val got = Digest.of(s, rows.toSeq)
          recordDir.foreach { dir =>
            if (!recorded.contains(name))
              spark.createDataFrame(java.util.Arrays.asList(rows.toIndexedSeq: _*), s)
                .coalesce(1).write.parquet(s"$dir/$name")
          }
          recorded(name) = got
          golden.get(name) match {
            case Some(want) => rec.check(id, name, got, want)
            case None if recordDir.isEmpty => rec.fail(id, name, "no golden digest")
            case None => ()
          }
        }
      graft.Scratch.sweep(spark)
    }

  /** In record mode: the digests and the program's oracle SQL of every
    * entry, for `run.py --record` to check against DuckDB. */
  def verify(): Unit = recordDir.foreach { dir =>
    def write(file: String, m: Map[String, Any]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, file), Json.obj(m))
    write("digests.json", recorded.map { case (k, d) =>
      k -> Json.Raw(s"""[${d.rows}, "${d.hash}"]""") }.toMap)
    val oracle = graft.SparkEntry.oracleSql
    write("oracle.json", entries.map(_._1).flatMap(n => oracle.get(n).map(n -> _)).toMap)
  }

  def metrics(): Map[String, M] = {
    val med = rec.okMeasured.groupBy(_.name).values.map(o => median(secs(o))).toSeq
    Map("query_total_s" -> M(med.sum, "s", med.size)) ++ latency("query", med)
  }

  def layerMetrics(): Map[String, M] = {
    val ms = rec.okMeasured
    entries.map(_._2).distinct.map { m =>
      s"ops.${m}_s" -> M(secs(ms.filter(_.layer == s"operators.$m")).sum, "s",
        ms.count(_.layer == s"operators.$m"))
    }.toMap
  }
}

/** `sources.Tpcds` staging, measured from its set-up call and output. */
object LoadLayer {
  def metrics(rec: Recorder, workDir: String): Map[String, M] = {
    val stage = rec.ops.filter(_.name == "Tpcds.ensure")
    val files = Option(new java.io.File(workDir, "tmp").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_stage_tpcds"))
      .flatMap(d => walk(d)).filter(_.getName.endsWith(".parquet"))
    Map("load.stage_s" -> M(stage.map(_.secs).sum, "s", stage.size),
      "load.files" -> M(files.size, "count", 1),
      "load.bytes" -> M(files.map(_.length).sum.toDouble, "bytes", 1))
  }
  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
}

/** `sources.SnapshotTable` write, commit and scan-planning metrics. */
object TableLayer {
  def metrics(rec: Recorder, log: CommitLog, t: SnapshotTable, root: String): Map[String, M] = {
    val ms = rec.okMeasured.filter(_.layer == "sources.SnapshotTable")
    def time(name: String, opName: String) = {
      val xs = (if (opName == "SnapshotTable.create") rec.ops.toSeq else ms)
        .filter(_.name == opName)
      name -> M(xs.map(_.secs).sum, "s", xs.size)
    }
    val plan = ms.filter(_.kind == "read_plan").map(_.secs)
    Map(time("table.create_s", "SnapshotTable.create"),
      time("table.merge_s", "SnapshotTable.merge"),
      time("table.compact_s", "SnapshotTable.compact"),
      "table.files_added" -> M(log.added.toDouble, "count", 1),
      "table.files_removed" -> M(log.removed.toDouble, "count", 1),
      "table.bytes_written" -> M(log.bytesWritten.toDouble, "bytes", 1),
      "table.rows_changed" -> M(log.rowsChanged.toDouble, "count", 1),
      "table.versions" -> M(t.currentVersion + 1.0, "count", 1),
      "table.manifest_bytes" -> M(Workload.manifestBytes(root).toDouble, "bytes", 1),
      "table.read_plan_s" -> M(plan.sum, "s", plan.size))
  }
}
