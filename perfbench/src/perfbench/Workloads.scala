package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._
import graft.sources.{Sinks, Tables}
import graft.streaming.StreamGate
import graft.types.SchemaOps

import Trace.span

/** Outcome of comparing one iteration's outputs with ground truth:
  * `failures` empty means correct; `stats` carries quality ratios
  * (recall) that are reported, not timed. */
final case class Verdict(failures: Seq[String], stats: Map[String, Double] = Map.empty) {
  def ok: Boolean = failures.isEmpty
}

/** One closed-loop pipeline. `run` is the timed pass and ends with its
  * outputs materialized; `read` collects what the check needs (untimed);
  * `check` compares with the generator's ground truth and never calls
  * the library. */
trait Workload {
  type Raw
  type Res
  def name: String
  def inputs: Inputs
  def run(spark: SparkSession, work: File): Raw
  def read(spark: SparkSession, raw: Raw): Res
  def check(res: Res): Verdict
  /** Deliberate corruptions of a correct result, for the self-test. */
  def corruptions: Seq[(String, Res => Res)]
}

object Workload {
  val Names: Seq[String] = Seq("cpi_etl", "llm_dedup", "stream_ingest")

  /** `cpi_etl` and `llm_dedup` each end with a streaming stage, so the
    * two timed workloads between them cover every layer;
    * `stream_ingest` runs both streaming stages on their own. */
  def generate(name: String, spark: SparkSession, root: File, seed: Long, sz: Sizes): Workload = {
    def gate = new StreamGateStage(GateGen.generate(spark, root, seed, sz))
    def facts = new StreamFactsStage(FactsGen.generate(spark, root, seed, sz))
    name match {
      case "cpi_etl" => new Combined(name, new CpiEtl(CpiGen.generate(spark, root, seed, sz)), facts)
      case "llm_dedup" =>
        new Combined(name, new LlmDedup(LlmGen.generate(spark, root, seed, sz), sz), gate)
      case "stream_ingest" => new Combined(name, gate, facts)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** Every `<name>.parquet` table directory under `root`. */
  def inputTables(root: File): Seq[File] =
    Option(root.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.getName.endsWith(".parquet")) Seq(f)
      else if (f.isDirectory) inputTables(f)
      else Nil
    }

  def load(spark: SparkSession, dir: File, table: String): DataFrame =
    span("sources.Tables.load")(Tables.load(spark, dir.getPath, table))

  /** A recall below this is a failed check. The operators are
    * deterministic; at these sizes they find 96-100% of planted pairs. */
  val RecallFloor = 0.9
}

// ---------------------------------------------------------------- cpi_etl

final case class CpiRes(
    finalSchema: Seq[(String, DataType)],
    rows: Long,
    perDivision: Map[String, (Long, Long, Long)],
    divMonthExp: Map[(String, Int), Long],
    groups: Long,
    badGroupSizes: Long)

object CpiEtl {
  val ItemSchema: StructType = StructType(Seq(
    StructField("month", DateType), StructField("division", StringType),
    StructField("price_pence", DecimalType(10, 0)), StructField("qty", DoubleType),
    StructField("exp", LongType), StructField("div_exp", LongType),
    StructField("n_obs", IntegerType)))

  /** Per (retailer, item) series: rows in month order with the series
    * length attached. Kept free of outer references so Spark can ship it. */
  def perItem(month: Int, division: Int, price: Int, qty: Int, exp: Int, divExp: Int)(
      rows: Iterator[Row]): Iterator[Row] = {
    val rs = rows.toVector.sortBy(_.getDate(month).getTime)
    rs.iterator.map(r => Row(r.get(month), r.get(division), r.get(price), r.get(qty),
      r.get(exp), r.get(divExp), rs.size))
  }
}

final class CpiEtl(val inputs: CpiInputs) extends Workload {
  type Raw = (Seq[(String, DataType)], String)
  type Res = CpiRes
  val name = "cpi_etl"
  private val truth = inputs.truth

  def run(spark: SparkSession, work: File): Raw = {
    val out = new File(work, "cpi_out").getPath
    val frames = inputs.sources.map(s => Workload.load(spark, inputs.dir, s))
    val analysis = span("types.SchemaOps.analyze")(SchemaOps.analyze(frames.map(_.schema)))
    val keys = truth.keys.map { case (_, (sup, ret)) => Seq(sup, ret) }
    val all = span("operators.Concat.concat")(
      Concat.concat(frames, keys, Seq("supplier", "retailer")))
    val division = span("operators.General.mapCol")(
      General.mapCol("category", truth.categoryToDivision))
    val renamed = span("operators.General.mapColumnNames")(
      General.mapColumnNames(all.withColumn("division", division),
        Map("price" -> "price_pence", "quantity" -> "qty")))
    val withExp = renamed.withColumn("exp",
      col("price_pence").cast("long") * col("qty").cast("long"))
    val totals = span("operators.General.withGroupTotals")(
      General.withGroupTotals(withExp, Seq("division", "month"), "div_exp" -> sum(col("exp"))))
    val s = totals.schema
    val fn = CpiEtl.perItem(s.fieldIndex("month"), s.fieldIndex("division"),
      s.fieldIndex("price_pence"), s.fieldIndex("qty"), s.fieldIndex("exp"),
      s.fieldIndex("div_exp")) _
    val series = span("operators.Grouped.applyPerGroup")(
      Grouped.applyPerGroup(totals, Seq("retailer", "item_id"), CpiEtl.ItemSchema)(fn))
    val filled = span("operators.Reshape.shiftedWithinYearFfill")(
      Reshape.shiftedWithinYearFfill(series, "month", "price_pence", Seq("retailer", "item_id")))
    span("sources.Sinks.writePartitioned")(
      Sinks.writePartitioned(filled, out, Seq("division")))
    (analysis.finalSchema.fields.map(f => f.name -> f.dataType).toSeq, out)
  }

  /** Reads the written output back and reduces it to what the check
    * compares. */
  def read(spark: SparkSession, raw: Raw): CpiRes = {
    val (schema, out) = raw
    val df = spark.read.parquet(out)
    val per = df.groupBy("division").agg(count(lit(1)), sum(col("price_pence").cast("long")),
      sum(col("exp"))).collect().map { r =>
      r.getString(0) -> (r.getLong(1), Option(r.get(2)).map(_ => r.getLong(2)).getOrElse(0L),
        Option(r.get(3)).map(_ => r.getLong(3)).getOrElse(0L))
    }.toMap
    val dm = df.select("division", "month", "div_exp").distinct().collect().map { r =>
      (r.getString(0), r.getDate(1).toLocalDate.toEpochDay.toInt) ->
        Option(r.get(2)).map(_ => r.getLong(2)).getOrElse(0L)
    }.toMap
    val g = df.groupBy("retailer", "item_id").agg(count(lit(1)).as("n"), min("n_obs").as("lo"),
      max("n_obs").as("hi"))
    val gs = g.agg(count(lit(1)), sum(when(col("n") =!= col("lo") || col("n") =!= col("hi"), 1)
      .otherwise(0))).head()
    CpiRes(schema, per.values.map(_._1).sum, per, dm, gs.getLong(0),
      Option(gs.get(1)).map(_ => gs.getLong(1)).getOrElse(0L))
  }

  def check(r: CpiRes): Verdict = {
    val f = mutable.ArrayBuffer.empty[String]
    val expectedSchema = truth.finalSchema.filterNot(c => c._1 == "supplier" || c._1 == "retailer")
    if (r.finalSchema != expectedSchema) f += s"coerced schema ${r.finalSchema} != $expectedSchema"
    if (r.rows != truth.rows) f += s"rows ${r.rows} != ${truth.rows}"
    if (r.perDivision != truth.perDivision) f += "per-division totals differ"
    val expDm = truth.divMonthExp
    if (r.divMonthExp != expDm) f += "per-(division, month) group totals differ"
    if (r.groups != truth.groupCount) f += s"series ${r.groups} != ${truth.groupCount}"
    if (r.badGroupSizes != 0) f += s"${r.badGroupSizes} series with a wrong n_obs"
    Verdict(f.toSeq)
  }

  def corruptions: Seq[(String, CpiRes => CpiRes)] = Seq(
    "row lost" -> (r => r.copy(rows = r.rows - 1)),
    "division total off by one" -> { r =>
      val (k, (n, p, e)) = r.perDivision.head
      r.copy(perDivision = r.perDivision.updated(k, (n, p + 1, e)))
    },
    "schema widened wrongly" -> (r => r.copy(finalSchema = r.finalSchema.map {
      case ("price", _) => "price" -> DoubleType
      case other => other
    })))
}

// -------------------------------------------------------------- llm_dedup

final case class LlmRes(
    pairs: Seq[(Long, Long, Double)],
    labels: Map[Long, Long],
    kept: Set[Long],
    modelK: Int,
    modelDims: Int,
    modelFinite: Boolean,
    sem: Seq[(Long, Long, Boolean)])

final class LlmDedup(val inputs: LlmInputs, sz: Sizes) extends Workload {
  type Raw = (DataFrame, DataFrame, DataFrame, Ivf.Model, Array[Row])
  type Res = LlmRes
  val name = "llm_dedup"
  private val truth = inputs.truth
  val Threshold = 0.5
  val SemThreshold = 0.95

  /** Planted near-text pairs that survive exact dedup and clear the
    * Jaccard threshold. */
  private val nearTruth: Set[(Long, Long)] = {
    val byCluster = truth.nearCluster.filter(kv => truth.exactKept(kv._1))
      .groupBy(_._2).values.map(_.keys.toVector.sorted)
    byCluster.flatMap { ids =>
      for (i <- ids.indices; j <- i + 1 until ids.size
        if Truth.jaccard(Truth.shingles(truth.texts(ids(i))),
          Truth.shingles(truth.texts(ids(j)))) >= Threshold + 1e-9)
      yield (ids(i), ids(j))
    }.toSet
  }

  def run(spark: SparkSession, work: File): Raw = {
    val docs = Workload.load(spark, inputs.dir, "documents")
    val emb = Workload.load(spark, inputs.dir, "embeddings")
    val exact = span("operators.Dedup.exactTextDedup")(Dedup.exactTextDedup(docs, "text", "id"))
    val pairs = span("operators.Dedup.minHashNearDupPairs")(
      Dedup.minHashNearDupPairs(exact, "id", "text", threshold = Threshold))
    val pairGraph = span("spark.action.checkpoint")(pairs.localCheckpoint())
    val labels = span("operators.Components.connectedComponents")(
      Components.connectedComponents(pairGraph, "id_a", "id_b"))
    val kept = span("operators.Dedup.keepBestPerCluster")(
      Dedup.keepBestPerCluster(exact, "id", "score", labels))
    val keptIds = span("spark.action.checkpoint")(kept.select("id").localCheckpoint())
    val keptEmb = emb.join(keptIds, Seq("id"), "left_semi")
    val model = span("operators.Ivf.train")(
      Ivf.train(keptEmb, "id", "vec", k = sz.ivfCells, iters = 1, sampleMod = 2))
    val sem = span("operators.Similarity.semanticDedup")(
      Similarity.semanticDedup(keptEmb, "id", "vec", model, SemThreshold))
    val semRows = span("spark.action.collect")(sem.select("id", "rep_id", "kept").collect())
    (pairGraph, labels, keptIds, model, semRows)
  }

  def read(spark: SparkSession, raw: Raw): LlmRes = {
    val (pairGraph, labels, keptIds, model, semRows) = raw
    LlmRes(
      pairGraph.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
      labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      keptIds.collect().map(_.getLong(0)).toSet,
      model.k, model.centroids.headOption.map(_.length).getOrElse(0),
      model.centroids.forall(_.forall(x => !x.isNaN && !x.isInfinite)),
      semRows.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq)
  }

  def check(r: LlmRes): Verdict = {
    val f = mutable.ArrayBuffer.empty[String]
    // near-text pairs: genuine, on exact-dedup survivors, exact Jaccard
    val bad = r.pairs.filterNot { case (a, b, j) =>
      a < b && truth.exactKept(a) && truth.exactKept(b) && j >= Threshold &&
        math.abs(j - Truth.jaccard(Truth.shingles(truth.texts(a)),
          Truth.shingles(truth.texts(b)))) < 1e-9
    }
    if (bad.nonEmpty) f += s"${bad.size} near-dup pairs wrong, e.g. ${bad.head}"
    val found = r.pairs.map(p => (p._1, p._2)).toSet
    val textRecall =
      if (nearTruth.isEmpty) 1.0 else nearTruth.count(found).toDouble / nearTruth.size
    if (textRecall < Workload.RecallFloor) f += f"near-text recall $textRecall%.3f"
    // components of exactly that pair graph
    if (r.labels != Truth.components(found)) f += "component labels differ from the pair graph"
    // best member per cluster among exact-dedup survivors
    val expectedKept = truth.exactKept.groupBy(id => r.labels.getOrElse(id, id)).values
      .map(_.maxBy(id => (truth.scores(id), -id))).toSet
    if (r.kept != expectedKept)
      f += s"kept ${r.kept.size} docs, expected ${expectedKept.size} (or different ids)"
    if (r.modelK != sz.ivfCells || r.modelDims != LlmGen.Dims || !r.modelFinite)
      f += s"IVF model k=${r.modelK} dims=${r.modelDims} finite=${r.modelFinite}"
    // semantic dedup over the kept set
    val semIds = r.sem.map(_._1)
    if (semIds.toSet != r.kept || semIds.size != r.kept.size) f += "semantic rows != kept docs"
    if (r.sem.exists { case (id, rep, k) => k != (id == rep) }) f += "kept flag != (id == rep_id)"
    val groups = r.sem.groupBy(_._2).filter(_._2.size > 1)
    groups.foreach { case (rep, ms) =>
      val ids = ms.map(_._1).toVector
      if (rep != ids.min) f += s"group $rep: rep_id is not the min id"
      // every reported group must be connected by genuine near-identical pairs
      val edges = for (i <- ids.indices; j <- i + 1 until ids.size
        if Truth.cosine(truth.vecs(ids(i)), truth.vecs(ids(j))) >= SemThreshold - 1e-4)
        yield (ids(i), ids(j))
      val comps = Truth.components(edges)
      if (ids.exists(id => comps.getOrElse(id, id) != ids.min))
        f += s"group $rep is not connected by pairs above the threshold"
    }
    val rep = r.sem.map(x => x._1 -> x._2).toMap
    val semTruth = truth.semGroup.filter(kv => r.kept(kv._1)).groupBy(_._2).values
      .map(_.keys.toVector.sorted).flatMap { ids =>
        for (i <- ids.indices; j <- i + 1 until ids.size
          if Truth.cosine(truth.vecs(ids(i)), truth.vecs(ids(j))) >= SemThreshold + 1e-3)
        yield (ids(i), ids(j))
      }
    val semRecall = if (semTruth.isEmpty) 1.0
      else semTruth.count { case (a, b) => rep.get(a) == rep.get(b) }.toDouble / semTruth.size
    if (semRecall < Workload.RecallFloor) f += f"semantic recall $semRecall%.3f"
    Verdict(f.toSeq, Map("text_dup_recall" -> textRecall, "sem_dup_recall" -> semRecall))
  }

  def corruptions: Seq[(String, LlmRes => LlmRes)] = Seq(
    "false near-dup pair" -> { r =>
      val ids = truth.exactKept.toVector.sorted
      val fake = (ids(0), ids(1), 0.9)
      r.copy(pairs = r.pairs :+ fake)
    },
    "kept doc dropped" -> (r => r.copy(kept = r.kept - r.kept.min)),
    "near-dup pairs lost" -> (r => r.copy(pairs = Nil, labels = Map.empty)),
    "semantic rep wrong" -> (r => r.copy(sem = r.sem.map { case (id, _, _) => (id, id, true) })))
}

// ---------------------------------------------------------- stream_ingest

/** Ingests a shard through the streaming near-dup gate against a
  * signature ledger that grows by one generation per ingested shard. */
final class StreamGateStage(val inputs: GateInputs) extends Workload {
  type Raw = Set[Long]
  type Res = Set[Long]
  val name = "stream_gate"
  private val truth = inputs.truth

  def run(spark: SparkSession, work: File): Set[Long] = {
    val ledgerPath = new File(work, "ledger.parquet").getPath
    val ledgerDocs = Workload.load(spark, inputs.dir, "ledger_docs")
    val prevShard = Workload.load(spark, inputs.dir, "prev_shard")
    val shard = Workload.load(spark, inputs.dir, "shard")
    Seq(ledgerDocs -> "overwrite", prevShard -> "append").zipWithIndex.foreach {
      case ((docs, mode), gen) =>
        val sigs = span("operators.Dedup.signatureLedger")(
          Dedup.signatureLedger(docs, "id", "text"))
        span("sources.Sinks.writePartitioned")(Sinks.writePartitioned(
          sigs.withColumn("gen", lit(gen)), ledgerPath, Seq("gen"), mode))
    }
    val gate = span("streaming.StreamGate.replayNearDupGate")(StreamGate.replayNearDupGate(
      shard, "id", "text", Workload.load(spark, work, "ledger"), filesPerTrigger = 1))
    // consumed before any later replay supersedes it
    span("spark.action.collect")(gate.select("id").collect()).map(_.getLong(0)).toSet
  }

  def read(spark: SparkSession, raw: Set[Long]): Set[Long] = raw

  def check(kept: Set[Long]): Verdict = {
    val f = mutable.ArrayBuffer.empty[String]
    val dups = truth.shardDups
    if (!kept.subsetOf(truth.shard)) f += "kept ids outside the shard"
    val lost = (truth.shard -- dups) -- kept
    if (lost.nonEmpty) f += s"${lost.size} new docs dropped"
    val recall = if (dups.isEmpty) 1.0 else (dups -- kept).size.toDouble / dups.size
    if (recall < Workload.RecallFloor) f += f"gate duplicate recall $recall%.3f"
    Verdict(f.toSeq, Map("gate_dup_recall" -> recall))
  }

  def corruptions: Seq[(String, Set[Long] => Set[Long])] = Seq(
    "new doc dropped" -> (k => k - (truth.shard -- truth.shardDups).min),
    "duplicates kept" -> (k => k ++ truth.shardDups))
}

final case class FactsRes(
    rollup: Map[(String, Long), (Long, Long, Long, Long, Long)],
    sessions: Set[(Long, Long, Long, Long, Double)])

/** Replays facts through the incremental rollup and events through the
  * stateful sessionizer. */
final class StreamFactsStage(val inputs: FactsInputs) extends Workload {
  type Raw = FactsRes
  type Res = FactsRes
  val name = "stream_facts"
  private val truth = inputs.truth
  private val spec = Maintain.SummarySpec(sums = Seq("amount", "qty"),
    mins = Seq("amount"), maxs = Seq("amount"))

  def run(spark: SparkSession, work: File): FactsRes = {
    val facts = Workload.load(spark, inputs.dir, "facts")
    val events = Workload.load(spark, inputs.dir, "events")
    // Each replay result is consumed before the next replay starts.
    val rollup = span("streaming.StreamGate.replayIncrementalRollup")(
      StreamGate.replayIncrementalRollup(facts, Seq("region", "product"), spec, filesPerTrigger = 1))
    val rollupRows = span("spark.action.collect")(rollup.select("region", "product", "n",
      "amount_sum", "qty_sum", "amount_min", "amount_max").collect())
    val sessions = span("streaming.StreamGate.replaySessionize")(
      StreamGate.replaySessionize(events, truth.gapUs))
    val sessionRows = span("spark.action.collect")(sessions.collect())
    FactsRes(
      rollupRows.map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap,
      sessionRows.map(r => (r.getLong(0), Truth.micros(r.getTimestamp(1)),
        Truth.micros(r.getTimestamp(2)), r.getLong(3), r.getDouble(4))).toSet)
  }

  def read(spark: SparkSession, raw: FactsRes): FactsRes = raw

  def check(r: FactsRes): Verdict = {
    val f = mutable.ArrayBuffer.empty[String]
    if (r.rollup != truth.rollup) f += s"rollup differs (${r.rollup.size} vs ${truth.rollup.size} keys)"
    if (r.sessions != truth.sessions)
      f += s"sessions differ (${r.sessions.size} vs ${truth.sessions.size})"
    Verdict(f.toSeq)
  }

  def corruptions: Seq[(String, FactsRes => FactsRes)] = Seq(
    "rollup sum off" -> { r =>
      val (k, (n, s, q, lo, hi)) = r.rollup.head
      r.copy(rollup = r.rollup.updated(k, (n, s + 1, q, lo, hi)))
    },
    "session lost" -> (r => r.copy(sessions = r.sessions - r.sessions.head)))
}

// ------------------------------------------------------------ composition

/** Two stages run back to back as one iteration; each checks its own
  * outputs. */
final class Combined(val name: String, val a: Workload, val b: Workload) extends Workload {
  type Raw = (a.Raw, b.Raw)
  type Res = (a.Res, b.Res)
  val inputs: Inputs = new Inputs {
    def dir: File = a.inputs.dir.getParentFile
    def inputRows: Long = a.inputs.inputRows + b.inputs.inputRows
    def describe: String = s"${a.inputs.describe}; then ${b.inputs.describe}"
  }
  def run(spark: SparkSession, work: File): Raw = (a.run(spark, work), b.run(spark, work))
  def read(spark: SparkSession, raw: Raw): Res = (a.read(spark, raw._1), b.read(spark, raw._2))
  def check(r: Res): Verdict = {
    val (va, vb) = (a.check(r._1), b.check(r._2))
    Verdict(va.failures ++ vb.failures, va.stats ++ vb.stats)
  }
  def corruptions: Seq[(String, Res => Res)] =
    a.corruptions.map { case (l, f) => l -> ((r: Res) => (f(r._1), r._2)) } ++
      b.corruptions.map { case (l, f) => l -> ((r: Res) => (r._1, f(r._2))) }
}
