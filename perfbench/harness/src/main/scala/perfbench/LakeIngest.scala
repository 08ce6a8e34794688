package perfbench

import java.io.File
import java.net.URI

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.Tables
import graft.etl.{DeltaLog, IncrementalDedup, Lakehouse, Medallion, Snapshots}
import graft.streaming.Ingest

/** What the `lake_ingest` run reports after its checks. */
final case class LakeSummary(rows: Long, bytes: Long, spaceAmp: Double,
    problems: Seq[String], layers: Seq[(String, Double)])

/** The write workload. One medallion run (bronze CSV → silver → gold),
  * then seeded micro-batches of `orders` — new keys mixed with updates of
  * earlier keys — through `Ingest.upsertBatch`, a `DeltaLog` append and a
  * `DeltaLog.read` rollup, and seeded `documents` batches with planted
  * exact copies through `IncrementalDedup.ingest`, with periodic
  * `Snapshots.expire` and `Lakehouse.compact`.
  *
  * Every batch is generated from the seed and staged as parquet in a
  * landing directory before the timed pass; the program reads only those
  * files and the catalog tables. Synthetic documents are random word
  * sequences, so the planted copies are the only duplicates and the dedup
  * check is exact.
  */
final class LakeIngest(spark: SparkSession, dir: String, work: File, seed: Long) {
  private val OrderBatches = 3
  private val OrderBatchRows = 4000
  private val DocBase = 1000
  private val DocBatches = 2
  private val DocBatchRows = 200
  private val Planted = 20

  private val rnd = new scala.util.Random(seed)
  private val root = new File(work, "lake").getAbsolutePath
  private val landing = new File(work, "landing")
  private val target = s"$root/orders_upsert"
  private val delta = s"$root/orders_delta"
  private val store = s"$root/doc_store"
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def orders: DataFrame = Tables.load(spark, dir, "orders")
  private val ordersSchema = orders.schema
  private val baseRows = orders.count()

  private def stage(name: String, rows: Seq[Row], schema: StructType): String = {
    val p = new File(landing, name).getAbsolutePath
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(p)
    p
  }

  private val orderBatches: Seq[String] = {
    val keys = mutable.ArrayBuffer.from(
      orders.select("o_orderkey").collect().map(_.getLong(0)))
    var next = keys.max + 1
    val statuses = Array("O", "F", "P")
    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val start = java.time.LocalDate.of(1992, 1, 1).atStartOfDay()
    def day(d: Int): Any = ordersSchema("o_orderdate").dataType match {
      case TimestampNTZType => start.plusDays(d)
      case _ => java.sql.Timestamp.valueOf(start.plusDays(d))
    }
    (0 until OrderBatches).map { b =>
      val chosen = mutable.LinkedHashSet.empty[Long]
      val firstNew = next
      while (chosen.size < OrderBatchRows) {
        if (rnd.nextBoolean()) chosen += keys(rnd.nextInt(keys.size))
        else { chosen += next; next += 1 }
      }
      keys ++= chosen.filter(_ >= firstNew)
      val rows = chosen.toSeq.map { k =>
        val values = Map[String, Any](
          "o_orderkey" -> k,
          "o_custkey" -> (1L + rnd.nextInt(15000)),
          "o_orderstatus" -> statuses(rnd.nextInt(3)),
          "o_totalprice" -> rnd.nextInt(50000000) / 100.0,
          "o_orderdate" -> day(rnd.nextInt(2400)),
          "o_orderpriority" -> priorities(rnd.nextInt(5)))
        Row.fromSeq(ordersSchema.fieldNames.toSeq.map(values))
      }
      stage(s"orders_b$b", rows, ordersSchema)
    }
  }

  /** Document batches and, per batch, the doc ids planted as exact copies. */
  private val (docBase, docBatches, planted): (String, Seq[String], Seq[Set[Long]]) = {
    def text(): String = Seq.fill(40)(s"w${rnd.nextInt(5000)}").mkString(" ")
    val stored = mutable.ArrayBuffer.fill(DocBase)(text())
    val base = stage("docs_base",
      stored.zipWithIndex.map { case (t, i) => Row(i.toLong + 1, t) }.toSeq, docSchema)
    var nextId = DocBase.toLong + 1
    val batches = (0 until DocBatches).map { b =>
      val copies = rnd.shuffle((0 until DocBatchRows).toList).take(Planted).toSet
      val rows = (0 until DocBatchRows).map { i =>
        val t = if (copies(i)) stored(rnd.nextInt(stored.size)) else text()
        Row(nextId + i, t)
      }
      nextId += DocBatchRows
      stored ++= rows.zipWithIndex.filterNot(r => copies(r._2)).map(_._1.getString(1))
      (stage(s"docs_b$b", rows, docSchema),
        copies.map(i => rows(i).getLong(0)))
    }
    (base, batches.map(_._1), batches.map(_._2))
  }

  private val readTotals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val dupsFound = mutable.ArrayBuffer.empty[(Int, Set[Long])]

  private def batch(p: String): DataFrame = spark.read.parquet(p)

  /** The operations of one pass, in order: (name, kind, body). */
  val ops: Seq[(String, String, () => Option[DataFrame])] = {
    def op(name: String, kind: String)(f: => Unit) =
      (name, kind, () => { f; Option.empty[DataFrame] })
    val head = Seq(
      op("medallion", "medallion") { Medallion.run(spark, dir) },
      op("upsert:base", "upsert") { Ingest.upsertBatch(target, orders, "o_orderkey") },
      op("delta_commit:base", "delta_commit") {
        DeltaLog.commit(orders, delta, DeltaLog.Overwrite) },
      op("dedup_ingest:base", "dedup_ingest") {
        Snapshots.commit(IncrementalDedup.sign(batch(docBase)), store,
          Snapshots.Overwrite) })
    head ++ (0 until OrderBatches).flatMap { b =>
      val expectRows = baseRows + OrderBatchRows.toLong * (b + 1)
      Seq(
        op(s"upsert:b$b", "upsert") {
          Ingest.upsertBatch(target, batch(orderBatches(b)), "o_orderkey") },
        op(s"delta_commit:b$b", "delta_commit") {
          DeltaLog.commit(batch(orderBatches(b)), delta, DeltaLog.Append) },
        op(s"delta_read:b$b", "delta_read") {
          val total = DeltaLog.read(spark, delta).groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"), sum("o_totalprice").as("v"))
            .collect().map(_.getLong(1)).sum
          readTotals += ((total, expectRows))
        }) ++
      (if (b % 3 == 2) Seq(op(s"compact:b$b", "compact") {
        Lakehouse.compact(spark, target, 1) }) else Nil) ++
      (if (b < DocBatches) Seq(op(s"dedup_ingest:b$b", "dedup_ingest") {
        val (_, dups) = IncrementalDedup.ingest(batch(docBatches(b)), store)
        dupsFound += ((b, dups.select("doc_id").distinct().collect()
          .map(_.getLong(0)).toSet))
      }) else Nil) ++
      (if (b < DocBatches && b % 2 == 1) Seq(op(s"snapshot_expire:b$b",
        "snapshot_expire") { Snapshots.expire(spark, store, 2) }) else Nil)
    }
  }

  private def bytesOf(df: DataFrame): Long =
    df.inputFiles.map(f => new File(new URI(f)).length).sum

  /** Checks against independent recomputations, plus volume figures. */
  def finish(done: Seq[(String, Double)]): LakeSummary = {
    val problems = mutable.ArrayBuffer.empty[String]
    def check(ok: => Boolean, what: String): Unit =
      try { if (!ok) problems += what }
      catch { case e: Throwable => problems += s"$what (${e.getMessage})" }

    val batches = orderBatches.map(batch)
    // upsert: the last version of each key wins
    check({
      val versioned = (orders.withColumn("pb_v", lit(0)) +: batches.zipWithIndex
        .map { case (d, i) => d.withColumn("pb_v", lit(i + 1)) })
        .reduce(_.unionByName(_))
      val latest = versioned.withColumn("pb_rn", row_number().over(
          Window.partitionBy("o_orderkey").orderBy(col("pb_v").desc)))
        .filter(col("pb_rn") === 1).drop("pb_rn", "pb_v")
      val cols = ordersSchema.fieldNames.toSeq.map(col)
      Digest.of(spark.read.parquet(target).select(cols: _*)) ==
        Digest.of(latest.select(cols: _*))
    }, "upsert table differs from the last-version-wins recomputation")
    // delta: one commit per batch after the base; the log holds every row
    check(DeltaLog.versions(spark, delta).lastOption.contains(OrderBatches.toLong),
      s"delta log does not end at version $OrderBatches")
    check(Digest.of(DeltaLog.read(spark, delta)) ==
      Digest.of((orders +: batches).reduce(_.unionByName(_))),
      "delta snapshot differs from base ∪ appended batches")
    check(readTotals.size == OrderBatches && readTotals.forall(t => t._1 == t._2),
      s"delta_read totals ${readTotals.mkString(",")} differ from the rows committed")
    // dedup: the planted copies and nothing else
    check(dupsFound.size == DocBatches && dupsFound.forall { case (b, f) =>
      f == planted(b) }, "dedup found other documents than the planted copies")
    check(Snapshots.read(spark, store).count() ==
      DocBase + DocBatches.toLong * (DocBatchRows - Planted),
      "signature store does not hold exactly the kept documents")

    val medallion = new File(Medallion.run(spark, dir))
    val live = bytesOf(spark.read.parquet(target)) +
      bytesOf(DeltaLog.read(spark, delta)) + bytesOf(Snapshots.read(spark, store)) +
      Harness.du(medallion)
    val onDisk = Harness.du(new File(root)) + Harness.du(medallion)
    val byKind = done.groupMapReduce(_._1.takeWhile(_ != ':'))(_._2 * 1000)(_ + _)
    val layers = Seq("medallion", "upsert", "delta_commit", "delta_read",
      "dedup_ingest", "snapshot_expire", "compact").map(k =>
      s"etl.${k}_ms" -> byKind.getOrElse(k, 0.0)) :+
      ("etl.dups_found" -> dupsFound.map(_._2.size).sum.toDouble)
    val rows = baseRows * 2 + OrderBatches.toLong * OrderBatchRows * 2 +
      DocBase + DocBatches.toLong * DocBatchRows
    // each order batch and the base table feed two sinks
    val staged = 2 * (orderBatches.map(p => Harness.du(new File(p))).sum +
      new File(Tables.path(dir, "orders")).length) +
      (docBase +: docBatches).map(p => Harness.du(new File(p))).sum
    LakeSummary(rows, staged, onDisk.toDouble / live, problems.toSeq, layers)
  }
}
