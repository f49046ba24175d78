package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{Components, Dedup}
import graft.queries.{AnalyticsQueries, Q, Relational, Reshape, Scalar}
import graft.sources.{MergeOnRead, TxTable}
import graft.streaming.Cdc
import graft.tools.{Exec, RunMetrics}

object Workloads {
  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong((f: Path) => Files.size(f)).sum()
      finally s.close()
    }
  }
}

/** BI analysts: read-only datamart queries of `queries.Relational`,
  * `Reshape`, `Scalar` and `AnalyticsQueries`, one per op, in a seeded
  * order per round. An op builds the query and materializes its own
  * executed plan (`tools.Exec.materialize`), as `graft.Bench` does.
  *
  * The set is a fixed nine: one query per feature the workload names
  * (wide mart, LIMIT BY, lookup cascade, window, cube, pivot,
  * explode/zip) plus a JSON scalar and histogram quantiles; every
  * query of the four modules would not warm up within one run's time
  * budget. The warm-up round writes each query's result for the output
  * check.
  */
final class MartRead(spark: SparkSession, dir: String, seed: Long,
    tracer: Tracer, out: String) extends Workload {
  private val names = Set(
    "q_mart_wide", "q_limit_by", "q_lookup_cascade", "q_window_running",
    "q_cube", "q_pivot", "q_explode_zip", "q_json_extract",
    "q_hist_quantiles")
  private val qs: IndexedSeq[Q] =
    (Relational.all ++ Reshape.all ++ Scalar.all ++ AnalyticsQueries.all)
      .filter(q => names(q.name)).toIndexedSeq
  require(qs.size == names.size, s"missing queries: ${names -- qs.map(_.name)}")
  private var round = 0
  private var order = IndexedSeq.empty[Q]
  private var pos = 0

  def setup(): Unit = ()
  // warm-up: one round, which writes each result for the output
  // check; a cycle is two rounds, so every query is timed twice
  def warmupOps: Int = qs.size
  def cycle: Int = 2 * qs.size
  def cycleSeconds: Double = 15.0

  def next(): Option[Op] = {
    if (pos == order.size) {
      order = new scala.util.Random(seed * 1000003L + round).shuffle(qs)
      round += 1
      pos = 0
    }
    val q = order(pos)
    pos += 1
    if (round == 1)
      Some(Op("check", q.name, q.name, () => {
        q.run(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/mart/${q.name}")
        Map.empty
      }))
    else Some(Op("query", q.name, q.name, () => {
      val df = tracer.span("queries.build")(q.run(spark, dir))
      val n = tracer.span("exec.materialize")(Exec.materialize(df))
      if (tracer.active)
        df.queryExecution.tracker.phases.foreach { case (phase, s) =>
          tracer.interval(s"planning.$phase",
            tracer.fromEpochMs(s.startTimeMs), tracer.fromEpochMs(s.endTimeMs))
        }
      Map("rows_out" -> n.toDouble)
    }))
  }

  def finish(out: String, traced: Boolean): Map[String, Double] = {
    Q.renderDir = dir
    val oracles = qs.flatMap(q => q.oracle.map(q.name -> _)).toMap
    Files.writeString(Paths.get(out, "mart", "oracle_sql.json"), Json(oracles))
    Map("queries" -> qs.size.toDouble)
  }
}

/** ETL engineers: CDC incremental loads into an orders-like TxTable.
  *
  * A write op reads the LSN watermark from `Cdc.StateStore`, takes the
  * next batch with `Cdc.range` + `Cdc.latestPerKey`, merges it —
  * alternating the SQL `MERGE INTO` path in `mor` mode and
  * `MergeOnRead.mergeInto` — then advances the watermark, and every
  * `CompactEvery` batches runs `TxTable.compact`. Each write is
  * followed by two read ops, while deletion vectors are pending: one
  * scans the whole table (`TxTable.read`), one the hot key range
  * (`TxTable.readWhere`).
  */
final class CdcLoad(spark: SparkSession, in: String, work: String,
    tracer: Tracer) extends Workload {
  private val Key = "o_orderkey"
  private val Data = Seq("o_custkey", "o_orderstatus", "o_totalprice")
  private val CompactEvery = 2
  private val CompactTarget = 64L << 10
  private val wh = s"$work/wh"
  private val root = s"$wh/cdc/orders"
  private val state = new Cdc.StateStore(spark, s"$work/cdc_state")
  private val expect = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(Files.readString(Paths.get(in, "expect.json")))
  private val batchRows = expect.get("batch_rows").asLong
  private val batches = expect.get("batches").asInt
  private val hot = expect.get("hot").asLong
  private lazy val log = spark.read.parquet(s"$in/log.parquet")
  private var b = 0
  private var readsDue = 0
  private var before: Option[TxTable.Snapshot] = None

  def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.gb", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gb.warehouse", wh)
    spark.conf.set(graft.sources.DeltaDml.ModeKey, "mor")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gb.cdc")
    // range-clustered files: a hot-range read can skip most of the
    // snapshot but none of the post-image files the merges append
    val snap = spark.read.parquet(s"$in/snapshot.parquet")
    TxTable.create(snap.repartitionByRange(8, col(Key)).sortWithinPartitions(Key),
      root, None)
  }

  // one cycle: both merge engines, one compaction, their reads
  def warmupOps: Int = cycle
  def cycle: Int = 3 * CompactEvery
  def cycleSeconds: Double = 6.0

  def next(): Option[Op] =
    if (readsDue > 0) { readsDue -= 1; Some(readOp(b, hotOnly = readsDue == 0)) }
    else if (b >= batches) None
    else { b += 1; readsDue = 2; Some(writeOp(b)) }

  private def writeOp(batch: Int): Op = {
    val sqlPath = batch % 2 == 1
    val compacts = batch % CompactEvery == 0
    Op("write", s"batch$batch",
      (if (sqlPath) "write.deltaops" else "write.mor") + (if (compacts) ".compact" else ""),
      () => {
      val w = tracer.span("cdc.state")(state.get("orders").getOrElse(0L))
      val to = w + batchRows
      val latest = tracer.span("cdc.latest_per_key")(
        Cdc.latestPerKey(Cdc.range(log, "lsn", w, to), Seq(Key), "lsn"))
      val src = latest.select((Key +: Data).map(col) :+
        col("lsn").as("last_lsn") :+ col("op").as("__g_op"): _*)
      if (sqlPath) tracer.span("deltaops.merge") {
        src.createOrReplaceTempView("graftbench_cdc_src")
        val cols = Key +: Data :+ "last_lsn"
        spark.sql(
          s"""MERGE INTO gb.cdc.orders t USING graftbench_cdc_src s
             |ON t.$Key = s.$Key
             |WHEN MATCHED AND s.__g_op = ${Cdc.Op.Delete} THEN DELETE
             |WHEN MATCHED THEN UPDATE SET
             |  ${cols.tail.map(c => s"$c = s.$c").mkString(", ")}
             |WHEN NOT MATCHED AND s.__g_op <> ${Cdc.Op.Delete} THEN INSERT
             |  (${cols.mkString(", ")}) VALUES (${cols.map("s." + _).mkString(", ")})"""
            .stripMargin)
      } else tracer.span("mor.merge") {
        MergeOnRead.mergeInto(spark, root, src, Seq(Key),
          matchedSets = Some(Nil),
          matchedDelete = Some(col("src.__g_op") === lit(Cdc.Op.Delete)),
          insertUnmatched = true,
          insertCond = Some(col("src.__g_op") =!= lit(Cdc.Op.Delete)))
      }
      tracer.span("cdc.state")(state.put("orders", to))
      val applied = Map("batch" -> batch.toDouble, "rows" -> batchRows.toDouble)
      if (!compacts) applied
      else {
        // snapshot reads only in traced ops, to keep untraced ops pure
        val pre = if (tracer.active) TxTable.currentSnapshot(spark, root) else None
        tracer.span("txtable.compact")(
          TxTable.compact(spark, root, targetFileBytes = CompactTarget))
        val rewritten = pre.map { p =>
          val old = p.entries.map(_.relPath).toSet
          TxTable.currentSnapshot(spark, root).get.entries
            .filterNot(e => old(e.relPath)).map(_.size.toDouble).sum
        }
        applied ++ rewritten.map("compact_bytes_rewritten" -> _)
      }
    },
    pre = traced => if (traced) before = TxTable.currentSnapshot(spark, root),
    post = traced => if (!traced) Map.empty else {
      val s = TxTable.currentSnapshot(spark, root).get
      val old = before.toSeq.flatMap(_.entries.map(_.relPath)).toSet
      val oldDv = before.toSeq.flatMap(_.dvs.map(_.relPath)).toSet
      val written = s.entries.filterNot(e => old(e.relPath)).map(_.size).sum +
        s.dvs.filterNot(d => oldDv(d.relPath)).map(_.size).sum
      Map("bytes_written" -> written.toDouble,
        "files_live" -> s.entries.size.toDouble,
        "dv_files_live" -> s.dvs.size.toDouble)
    })
  }

  private def hotCond = col(Key) < lit(hot)

  /** Row count plus a sum over a data column, so the scan decodes data
    * and applies the pending deletion vectors.
    */
  private def readOp(batch: Int, hotOnly: Boolean): Op =
    Op("read", s"batch$batch", if (hotOnly) "read.hot" else "read.all", () => {
      val df = tracer.span("txtable.read")(
        if (hotOnly) TxTable.readWhere(spark, root, hotCond)
        else TxTable.read(spark, root))
      val r = tracer.span("txtable.read")(
        df.agg(count(lit(1)), sum(round(col("o_totalprice") * 100).cast(LongType))).head())
      Map("batch" -> batch.toDouble,
        (if (hotOnly) "count_hot" else "count_all") -> r.getLong(0).toDouble)
    },
    post = traced => if (!traced || !hotOnly) Map.empty else {
      val s = TxTable.currentSnapshot(spark, root).get
      val data = s.entries.map(_.relPath).toSet
      val scanned = TxTable.readWhere(spark, root, hotCond).inputFiles
        .count(f => data.exists(rel => f.endsWith(rel)))
      Map("files_scanned_ratio" -> scanned.toDouble / s.entries.size)
    })

  def finish(out: String, traced: Boolean): Map[String, Double] = {
    val live = TxTable.read(spark, root)
    live.coalesce(1).write.mode("overwrite").parquet(s"$out/cdc_final")
    // the same live rows written once, fresh, as the space baseline
    val fresh = s"$work/fresh"
    TxTable.create(spark.read.parquet(s"$out/cdc_final")
      .repartitionByRange(8, col(Key)).sortWithinPartitions(Key), fresh, None)
    val rootBytes = Workloads.bytesUnder(root)
    val freshBytes = Workloads.bytesUnder(fresh)
    Map("watermark" -> state.get("orders").getOrElse(0L).toDouble,
      "root_bytes" -> rootBytes.toDouble, "fresh_bytes" -> freshBytes.toDouble,
      "space_amp" -> rootBytes.toDouble / freshBytes)
  }
}

/** Pipeline owners: LLM-corpus near-duplicate maintenance. The base
  * corpus's MinHash-LSH side and component labels are stored; each op
  * takes the next incoming batch, builds its `Dedup.lshSide`, finds
  * `Dedup.lshDeltaPairs` against the stored base side, folds the new
  * edges with `Components.connectedIncrementalDelta`, then grows the
  * stored base side and labels.
  */
final class CorpusDedup(spark: SparkSession, in: String, work: String,
    tracer: Tracer) extends Workload {
  private val (n, bands, rowsPerBand, tau) = (3, 8, 4, 0.8)
  private val shDir = s"$work/side_sh"
  private val bandDir = s"$work/side_banded"
  private var labelsVer = 0
  private def labelsDir(v: Int) = s"$work/labels_v$v"
  private lazy val batchesDf = spark.read.parquet(s"$in/batches.parquet")
  private lazy val nBatches =
    batchesDf.agg(max(col("batch"))).head().getInt(0) + 1
  private var b = 0
  // every pair the timed and warm-up ops emitted, for the output checks
  private val emitted = scala.collection.mutable.ArrayBuffer.empty[Row]
  private val edgeSchema = StructType(Seq(
    StructField("d1", LongType), StructField("d2", LongType)))
  private val labelSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("component", LongType)))

  def setup(): Unit = {
    RunMetrics.install(spark)
    val base = spark.read.parquet(s"$in/base.parquet")
    val side = Dedup.lshSide(base, "doc_id", "text", n, bands, rowsPerBand)
    side.sh.write.parquet(shDir)
    side.banded.write.parquet(bandDir)
    Components.connected(base.select(col("doc_id")), "doc_id",
        Dedup.minhashLshPairs(side, tau), "d1", "d2")
      .select(col("doc_id"), col("component"))
      .write.parquet(labelsDir(0))
    graft.CacheScope.release()
    spark.catalog.clearCache()
  }

  def warmupOps: Int = 1
  def cycle: Int = 2
  def cycleSeconds: Double = 12.0

  def next(): Option[Op] =
    if (b >= nBatches) None
    else {
      val batch = b
      b += 1
      val docs = batchesDf.filter(col("batch") === batch)
        .select(col("doc_id"), col("text"))
      Some(Op("ingest", s"batch$batch", "ingest", () => {
        val side = tracer.span("dedup.side") {
          val s = Dedup.lshSide(docs, "doc_id", "text", n, bands, rowsPerBand)
          Exec.materialize(s.banded)
          s
        }
        val base = Dedup.lshSideFromStored(spark.read.parquet(shDir),
          spark.read.parquet(bandDir), "doc_id", n, bands, rowsPerBand)
        val edges = tracer.span("dedup.pairs")(
          Dedup.lshDeltaPairs(base, side, tau).select("d1", "d2").collect())
        emitted ++= edges
        val edgeDf = spark.createDataFrame(
          java.util.Arrays.asList(edges: _*), edgeSchema)
        val labels = spark.read.parquet(labelsDir(labelsVer))
        val delta = tracer.span("components.fold")(
          Components.connectedIncrementalDelta(labels, "doc_id", "component",
            docs.select(col("doc_id")), edgeDf, "d1", "d2")
            .select(col("doc_id").cast(LongType), col("component").cast(LongType))
            .collect())
        val docsIn = tracer.span("harness.store") {
          val deltaDf = spark.createDataFrame(
            java.util.Arrays.asList(delta: _*), labelSchema)
          labels.join(deltaDf.select("doc_id"), Seq("doc_id"), "left_anti")
            .unionByName(deltaDf).write.parquet(labelsDir(labelsVer + 1))
          side.sh.coalesce(1).write.mode("append").parquet(shDir)
          side.banded.coalesce(1).write.mode("append").parquet(bandDir)
          side.sh.count()
        }
        deleteDir(labelsDir(labelsVer))
        labelsVer += 1
        Map("rows" -> docsIn.toDouble, "pairs" -> edges.length.toDouble,
          "labels_changed" -> delta.length.toDouble)
      },
      pre = _ => RunMetrics.flushAndReset(spark),
      post = _ => {
        val m = RunMetrics.harvestedDeduped(spark)
        Map("candidates" -> (m.getOrElse("cand_minhash", 0.0) +
          m.getOrElse("cand_minhash_cross", 0.0)))
      }))
    }

  private def deleteDir(d: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  def finish(out: String, traced: Boolean): Map[String, Double] = {
    spark.read.parquet(labelsDir(labelsVer)).coalesce(1).write
      .mode("overwrite").parquet(s"$out/labels")
    spark.createDataFrame(java.util.Arrays.asList(emitted.toSeq: _*), edgeSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/edges")
    val minhashNsPerRow = if (!traced) 0.0 else {
      // the plans/ MinHash kernel alone: one signature projection over
      // the cached base shingle sets, median of three
      val sh = spark.read.parquet(shDir).persist()
      val rows = sh.count()
      val ts = Seq.fill(3) {
        val t0 = System.nanoTime()
        Exec.materialize(sh.select(Dedup.minhashSignature(col("sh"),
          bands * rowsPerBand).as("sig")))
        System.nanoTime() - t0
      }.sorted
      sh.unpersist()
      ts(1).toDouble / rows
    }
    Map("batches_done" -> b.toDouble, "minhash_ns_per_row" -> minhashNsPerRow)
  }
}
