package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{DedupOps, QualityOps, RelationalOps}
import graft.pipeline.{AqPipeline, AqSchemas, CurationPipeline}
import graft.streaming.AqStreaming

/** What one op did: the user input rows it completed, and a check of
  * its output that runs after the op's latency is taken.
  */
case class OpResult(rows: Long, check: () => Option[String] = () => None)

/** One named workload. `prepare` generates and lands the inputs, ops
  * run with ids 0, 1, 2, ... (the first few untimed, as set-up and
  * warm-up), and `verify` checks everything the ops left behind against
  * generator truth.
  */
trait Workload {
  def prepare(spark: SparkSession): Unit
  def op(spark: SparkSession, id: Long): OpResult
  /** Output mismatches found after the timed loop (empty = correct). */
  def verify(spark: SparkSession): Seq[String]
  def inputBytes: Long
  def outputBytes: Long
  /** Extra per-layer measurements made after the timed loop. */
  def traceLayers(spark: SparkSession): Unit = ()
  /** Directory whose partition layout `io.files_per_partition_dir` describes. */
  def partitionedOutput: Option[Path] = None
  /** Human-readable input sizes for the report. */
  def sizes: Seq[(String, Double)]
}

object Workloads {
  val names: Seq[String] = Seq("aq_ingest", "aq_stream", "corpus_curate")

  def apply(name: String, seed: Long, dir: Path, tr: Tracer): Workload = name match {
    case "aq_ingest" => new AqIngest(seed, dir, tr)
    case "aq_stream" => new AqStream(seed, dir, tr)
    case "corpus_curate" => new CorpusCurate(seed, dir, tr)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timedMs(body: => Unit): Double = {
    val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e6
  }

  def pollutant(r: Row, p: String): Option[Double] =
    if (r.isNullAt(r.fieldIndex(p))) None else Some(r.getAs[Double](p))

  /** Metadata columns that differ from a station's feed (null metadata
    * is filled with the pipeline's defaults).
    */
  def metaMismatch(r: Row, meta: Option[(String, String, Long, Long)]): Seq[String] = {
    val (city, country, lat, lon) = meta
      .map { case (c, k, la, lo) => (c, k, Gen.fixedValue(la, 4), Gen.fixedValue(lo, 4)) }
      .getOrElse(("Unknown", "VN", 0.0, 0.0))
    Seq("city_name" -> city, "country_code" -> country, "latitude" -> lat, "longitude" -> lon)
      .collect { case (c, v) if r.getAs[Any](c) != v => s"$c ${r.getAs[Any](c)} != $v" }
  }

  /** Compares one mart row with its expected values; None if equal. */
  def martMismatch(key: (Long, Long), r: Row, want: Gen.MartRow): Option[String] = {
    val vals = AqSchemas.parameters.map(p => (p, pollutant(r, p), want.values.get(p).map(Gen.fixedValue(_, 1))))
      .collect { case (p, g, w) if g != w => s"$p $g != $w" }
    val diffs = vals ++ metaMismatch(r, want.meta)
    if (diffs.isEmpty) None else Some(s"mart row $key: ${diffs.mkString(", ")}")
  }

  def hourOf(ts: java.sql.Timestamp): Long = ts.getTime / 3600000L - Gen.epochHour0

  /** Stage self times of the `AqPipeline` stage functions over `raw`:
    * prefix chains, each written to `noop` (median of 3); a stage's
    * self time is its prefix minus the one before it.
    */
  def stageSelfTimes(raw: DataFrame, tr: Tracer): Unit = {
    val parsed = AqPipeline.parseTimestamps(raw)
    val deduped = AqPipeline.deduplicate(parsed)
    val pivoted = AqPipeline.pivotParameters(deduped)
    val prefixes: Seq[(String, DataFrame)] = Seq(
      "parse" -> parsed, "dedup" -> deduped, "pivot" -> pivoted,
      "enrich" -> AqPipeline.enrich(pivoted, AqPipeline.locationDim(parsed)),
      "aqi" -> AqPipeline.transform(raw, aqi = true))
    val times = prefixes.map { case (n, df) => n -> Stats.median((1 to 3).map(_ => timedMs(noop(df)))) }
    times.zip(0.0 +: times.map(_._2)).foreach { case ((n, t), prev) =>
      tr.count(s"pipeline.stage.${n}_ms", t - prev)
    }
  }
}

import Workloads._

/** Hourly incremental batches through `AqPipeline` (closed loop, one
  * orchestrator): land one extraction, re-read the raw files of the day
  * partitions it touches, transform, overwrite those partitions,
  * register, validate.
  */
final class AqIngest(seed: Long, dir: Path, tr: Tracer) extends Workload {
  val nLocations = 20
  val historyHours = 30 // extractions landed before the warm op
  private val locs = Gen.locations(seed, nLocations)
  private val rawDir = dir.resolve("raw")
  private val martDir = dir.resolve("mart")
  private val landed = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
  private var martDays = Set.empty[String]
  private var lastHour = -1L
  private var lastGlob = ""

  private def fileOf(e: Long): Path = {
    val d = Gen.day(e)
    rawDir.resolve(d.substring(0, 4)).resolve(d.substring(5, 7)).resolve(d.substring(8, 10))
      .resolve(f"${(e + Gen.epochHour0) % 24}%02d.ndjson")
  }

  private def land(e: Long): Long = {
    val lines = Gen.extraction(seed, locs, e)
    val bytes = Gen.bytes(lines)
    val f = fileOf(e)
    Files.createDirectories(f.getParent)
    Files.write(f, bytes)
    landed(e) = (lines.length.toLong, bytes.length.toLong)
    lines.length
  }

  def prepare(spark: SparkSession): Unit = (0L until historyHours).foreach(land)

  def op(spark: SparkSession, id: Long): OpResult = {
    val e = historyHours + id
    val newRows = land(e)
    val touched = Gen.touchedDays(e)
    val nextDays = touched.map(d => Gen.day(Gen.epochHourOfDay(d) + 24))
    val readDays = (touched ++ nextDays).distinct.filter(d => landed.keys.exists(Gen.day(_) == d))
    require(readDays.map(_.substring(0, 7)).distinct.size == 1,
      "the simulated timeline must stay inside one month")
    val ym = readDays.head.substring(0, 7).replace('-', '/')
    val glob = rawDir.resolve(ym).toString + readDays.map(_.substring(8, 10)).mkString("/{", ",", "}/*.ndjson")
    lastGlob = glob
    tr.count("pipeline.rows_read", landed.filter { case (h, _) => readDays.contains(Gen.day(h)) }
      .values.map(_._1).sum.toDouble)
    tr.count("pipeline.rows_new", newRows.toDouble)
    val raw = tr.span("pipeline.read_raw")(AqPipeline.readRaw(spark, glob))
    val mart = tr.span("pipeline.transform_plan") {
      AqPipeline.transform(raw, aqi = true)
        .filter(concat_ws("-", col("year"), col("month"), col("day")).isin(touched: _*))
    }
    tr.span("pipeline.write_mart")(AqPipeline.writeMart(mart, martDir.toString))
    tr.span("pipeline.register_mart")(AqPipeline.registerMart(spark, martDir.toString, "aq_mart"))
    val v = tr.span("pipeline.validate")(AqPipeline.validate(spark.table("aq_mart")).collect().head)
    martDays ++= touched
    lastHour = e
    OpResult(newRows, () => {
      val expected = Gen.batchTruth(seed, locs, e, truthHours(e)).size.toLong
      val rows = v.getAs[Long]("row_count")
      Seq(
        s"row_count $rows != expected $expected" -> (rows != expected),
        s"duplicate keys: ${v.getAs[Long]("distinct_keys")} distinct of $rows" ->
          (v.getAs[Long]("distinct_keys") != rows),
        "null critical columns" -> Seq("null_location_id", "null_datetime", "null_country_code")
          .exists(v.getAs[Long](_) != 0)).collectFirst { case (m, true) => s"op $id: $m" }
    })
  }

  private def truthHours(now: Long): Seq[Long] =
    martDays.toSeq.flatMap { d =>
      val h0 = Gen.epochHourOfDay(d); h0 until h0 + 24
    }.filter(_ <= now)

  def verify(spark: SparkSession): Seq[String] = {
    val want = Gen.batchTruth(seed, locs, lastHour, truthHours(lastHour))
    val got = spark.table("aq_mart").collect()
      .map(r => (r.getAs[String]("location_id").toLong, hourOf(r.getAs[java.sql.Timestamp]("datetime"))) -> r)
    val keys = got.map(_._1)
    val problems = Seq.newBuilder[String]
    if (keys.distinct.length != keys.length) problems += "mart has duplicate (location, hour) rows"
    if (keys.toSet != want.keySet)
      problems += s"mart keys differ: ${(keys.toSet -- want.keySet).take(3)} extra, " +
        s"${(want.keySet -- keys.toSet).take(3)} missing"
    problems ++= got.iterator.flatMap { case (k, r) => want.get(k).flatMap(martMismatch(k, r, _)) }.take(5)
    problems.result()
  }

  def inputBytes: Long = landed.values.map(_._2).sum
  def outputBytes: Long = dirBytes(martDir)
  override def partitionedOutput: Option[Path] = Some(martDir)
  def sizes: Seq[(String, Double)] = Seq(
    "locations" -> nLocations.toDouble,
    "rows_per_extraction" -> landed.values.map(_._1).sum.toDouble / landed.size,
    "landed_files" -> landed.size.toDouble, "landed_bytes" -> inputBytes.toDouble)

  /** Stage self times over the last op's input. */
  override def traceLayers(spark: SparkSession): Unit =
    stageSelfTimes(AqPipeline.readRaw(spark, lastGlob), tr)
}

/** The same hourly extractions through `AqStreaming.streamToMart`: one
  * op lands one file and runs the AvailableNow query from its
  * checkpoint to termination.
  */
final class AqStream(seed: Long, dir: Path, tr: Tracer) extends Workload {
  val nLocations = 20
  val firstHour = 30L
  private val locs = Gen.locations(seed, nLocations)
  private val rawDir = dir.resolve("raw")
  private val martDir = dir.resolve("mart")
  private val checkpoint = dir.resolve("checkpoint")
  private var landedBytes = 0L
  private var landedFiles = 0
  private var lastHour = -1L
  private var lastFile: Option[Path] = None

  def prepare(spark: SparkSession): Unit = Files.createDirectories(rawDir)

  def op(spark: SparkSession, id: Long): OpResult = {
    val e = firstHour + id
    val lines = Gen.extraction(seed, locs, e)
    val bytes = Gen.bytes(lines)
    // write then rename, so the file source never lists a partial file
    val tmp = dir.resolve(s"landing-$e.tmp")
    Files.write(tmp, bytes)
    val file = rawDir.resolve(f"${e + Gen.epochHour0}%08d.ndjson")
    Files.move(tmp, file)
    lastFile = Some(file)
    landedBytes += bytes.length
    landedFiles += 1
    val q = tr.span("streaming.start") {
      AqStreaming.streamToMart(spark, rawDir.toString, martDir.toString, checkpoint.toString).start()
    }
    tr.span("streaming.run")(q.awaitTermination())
    lastHour = e
    OpResult(lines.length, () => q.exception.map(x => s"op $id: ${x.getMessage}"))
  }

  def verify(spark: SparkSession): Seq[String] = {
    val want = Gen.firstArrivalCandidates(seed, locs, firstHour, lastHour)
    val merged = AqStreaming.mergePartialRows(spark.read.parquet(martDir.toString)).collect()
    val problems = Seq.newBuilder[String]
    val keys = merged.map(r =>
      (r.getAs[Any]("location_id").toString.toLong, hourOf(r.getAs[java.sql.Timestamp]("datetime"))))
    val wantKeys = want.keySet.map { case (l, t, _) => (l, t) }
    if (keys.distinct.length != keys.length) problems += "merged mart has duplicate keys"
    if (keys.toSet != wantKeys)
      problems += s"merged mart keys differ: ${(keys.toSet -- wantKeys).take(3)} extra, " +
        s"${(wantKeys -- keys.toSet).take(3)} missing"
    val locMeta = locs.map(l => l.id -> l.meta).toMap
    problems ++= merged.iterator.zip(keys.iterator).flatMap { case (r, k @ (l, t)) =>
      val diffs = AqSchemas.parameters.flatMap { p =>
        (pollutant(r, p), want.get((l, t, p))) match {
          case (None, None) => None
          case (Some(g), Some(c)) if c.exists(Gen.fixedValue(_, 1) == g) => None
          case (g, c) => Some(s"$p $g not in $c")
        }
      } ++ metaMismatch(r, locMeta(l))
      if (diffs.isEmpty) None else Some(s"merged row $k: ${diffs.mkString(", ")}")
    }.take(5)
    problems.result()
  }

  def inputBytes: Long = landedBytes
  def outputBytes: Long = dirBytes(martDir)
  override def partitionedOutput: Option[Path] = Some(martDir)
  def sizes: Seq[(String, Double)] = Seq(
    "locations" -> nLocations.toDouble, "landed_files" -> landedFiles.toDouble,
    "landed_bytes" -> landedBytes.toDouble)

  /** Self times of the stage functions each micro-batch runs, over the
    * last landed file.
    */
  override def traceLayers(spark: SparkSession): Unit =
    lastFile.foreach(f => stageSelfTimes(AqPipeline.readRaw(spark, f.toString), tr))
}

/** `CurationPipeline.write(curate(docs))` over a corpus with planted
  * exact and near duplicates; one op is the whole job.
  */
final class CorpusCurate(seed: Long, dir: Path, tr: Tracer) extends Workload {
  val nDocs = 2500
  private val corpusDir = dir.resolve("corpus")
  private val outDir = dir.resolve("curated")
  private lazy val corpus = Gen.corpus(seed, nDocs)
  private val outputs = scala.collection.mutable.ArrayBuffer.empty[Path]

  def prepare(spark: SparkSession): Unit = {
    val rows = corpus.docs.map(d => Row(d.id, d.text, d.lang, d.source))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING")
    spark.createDataFrame(rows.asJava, schema).repartition(4)
      .write.mode("overwrite").parquet(corpusDir.toString)
  }

  def op(spark: SparkSession, id: Long): OpResult = {
    val out = outDir.resolve(s"op-$id")
    val docs = spark.read.parquet(corpusDir.toString)
    CurationPipeline.write(CurationPipeline.curate(docs), out.toString)
    outputs += out
    OpResult(nDocs)
  }

  def verify(spark: SparkSession): Seq[String] = {
    val (n, train, test, clusters, removed) = Gen.curationTruth(corpus)
    outputs.toSeq.flatMap { out =>
      val a = CurationPipeline.audit(spark.read.parquet(out.toString)).collect().head
      val got = Seq("n_docs", "n_train", "n_test", "n_neardup_clusters", "n_neardup_removed")
        .map(a.getAs[Long](_))
      val want = Seq(n, train, test, clusters, removed)
      if (got == want) None else Some(s"${out.getFileName}: audit $got, planted $want")
    }.take(5)
  }

  def inputBytes: Long = dirBytes(corpusDir)
  def outputBytes: Long = outputs.lastOption.map(dirBytes).getOrElse(0L)
  override def partitionedOutput: Option[Path] = outputs.lastOption
  def sizes: Seq[(String, Double)] = Seq(
    "docs" -> nDocs.toDouble, "exact_dup_groups" -> corpus.exactGroups.size.toDouble,
    "neardup_clusters" -> corpus.nearClusters.size.toDouble,
    "gated_docs" -> corpus.gatedIds.size.toDouble, "corpus_bytes" -> inputBytes.toDouble)

  /** The operators the job composes, called one by one on the same input. */
  override def traceLayers(spark: SparkSession): Unit = {
    val cfg = CurationPipeline.Config()
    val docs = spark.read.parquet(corpusDir.toString)
      .withColumn("__norm_text", regexp_replace(trim(col("text")), "\\s+", " "))
    tr.count("functions.annotate_ms", timedMs(noop(docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("__norm_text")).as("n_tokens"),
      TextFunctions.qualityScore(col("__norm_text")).as("quality"),
      TextFunctions.langIdHeuristic(col("__norm_text")).as("pred_lang"),
      md5(col("text").cast("binary")).as("fingerprint")))))
    tr.count("operators.repetition_gate_ms", timedMs(noop(QualityOps.repetitionMetrics(
      docs, "doc_id", "__norm_text", cfg.maxDupTokenFrac, cfg.maxTopBigramFrac))))
    tr.count("operators.exact_dedup_ms", timedMs(noop(DedupOps.exactDuplicates(docs, "doc_id", "text"))))
    var pairs: Array[Row] = Array.empty
    tr.count("operators.minhash_lsh_ms", timedMs {
      pairs = DedupOps.minHashLshPairs(docs, "doc_id", "text", cfg.shingleSize, cfg.lshBands,
        cfg.lshRowsPerBand, cfg.nearDupSim).select("id_a", "id_b").collect()
    })
    tr.count("operators.neardup_pairs", pairs.length.toDouble)
    import spark.implicits._
    val pairDf = pairs.toSeq.map(r => (r.getLong(0), r.getLong(1))).toDF("id_a", "id_b")
    tr.count("operators.connected_components_ms", timedMs(noop(RelationalOps.connectedComponents(
      docs.select("doc_id"), "doc_id", pairDf, "id_a", "id_b"))))
  }
}
