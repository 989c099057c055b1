package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Input sizes of the three workloads. `Full` is what the benchmark
  * times; `Tiny` keeps the self-test fast. Shares are fixed here, not
  * drawn, so every seed has the same shape and only the contents vary. */
final case class Sizes(
    cpiSources: Int,
    cpiItemsPerSource: Int,
    cpiMonths: Int,
    llmBaseDocs: Int,
    llmClusters: Int,
    ivfCells: Int,
    streamLedgerDocs: Int,
    streamShardDocs: Int,
    streamFacts: Int,
    streamUsers: Int,
    streamEventsPerUser: Int)

object Sizes {
  val Full = Sizes(
    cpiSources = 12, cpiItemsPerSource = 100, cpiMonths = 24,
    llmBaseDocs = 2000, llmClusters = 48, ivfCells = 20,
    streamLedgerDocs = 1500, streamShardDocs = 800, streamFacts = 30000,
    streamUsers = 800, streamEventsPerUser = 16)
  val Tiny = Sizes(
    cpiSources = 6, cpiItemsPerSource = 12, cpiMonths = 14,
    llmBaseDocs = 600, llmClusters = 6, ivfCells = 8,
    streamLedgerDocs = 200, streamShardDocs = 120, streamFacts = 2000,
    streamUsers = 40, streamEventsPerUser = 12)
}

/** Deterministic parquet writing: one file per table with a fixed name
  * and no side files, so a seed's inputs are byte-identical across runs
  * (the writer itself embeds no time or host data). */
object ParquetOut {
  def write(spark: SparkSession, dir: File, name: String,
      schema: StructType, rows: Seq[Row]): Unit = {
    val target = new File(dir, s"$name.parquet")
    val tmp = new File(dir, s".$name.tmp")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).sortBy(_.getName)
    require(part.length == 1, s"expected one part file for $name")
    Files.createDirectories(target.toPath)
    Files.move(part.head.toPath, target.toPath.resolve("part-00000.snappy.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(target.toPath.resolve("_SUCCESS"))
    deleteTree(tmp.toPath)
  }

  /** Writes several tables concurrently (the rows are already drawn, so
    * the order of the writes cannot change any byte). */
  def writeAll(spark: SparkSession, dir: File, tables: Seq[(String, StructType, Seq[Row])]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      tables.map { case (name, schema, rows) =>
        pool.submit(new Runnable { def run(): Unit = write(spark, dir, name, schema, rows) })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.deleteIfExists(x))
    finally walk.close()
  }

  /** sha256 over every regular file under `dir`, in path order. */
  def digest(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val walk = Files.walk(dir.toPath)
    try walk.filter(Files.isRegularFile(_)).sorted().forEach { p =>
      md.update(dir.toPath.relativize(p).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    } finally walk.close()
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Zipf-distributed vocabulary of lowercase pseudo-words. */
final class Vocab(size: Int, exponent: Double) {
  val words: Array[String] = Array.tabulate(size) { i =>
    val sb = new StringBuilder
    var n = i
    do { sb.append(('a' + n % 26).toChar); n /= 26 } while (n > 0)
    "w" + sb.toString
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1.0, exponent))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def draw(rnd: Random): String = {
    val u = rnd.nextDouble()
    var lo = 0; var hi = size - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
    words(lo)
  }
  def doc(rnd: Random, minLen: Int, maxLen: Int): Array[String] =
    Array.fill(minLen + rnd.nextInt(maxLen - minLen + 1))(draw(rnd))
  /** A near-duplicate: each token replaced with probability `p`. */
  def mutate(rnd: Random, toks: Array[String], p: Double): Array[String] =
    toks.map(t => if (rnd.nextDouble() < p) draw(rnd) else t)
}

/** Plain-Scala reference semantics the checks compare against. None of
  * this calls the library. */
object Truth {
  def tokens(text: String): Array[String] = text.trim.split(" +")

  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = tokens(text)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString("_")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b.contains).toDouble
    val u = a.size + b.size - i
    if (u == 0) 0.0 else i / u
  }

  /** Lowercase, keep `[a-z0-9 ]`, collapse spaces, trim: the exact-text
    * fingerprint normalization. */
  def normalize(text: String): String =
    text.toLowerCase.filter(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ')
      .split(" +").filter(_.nonEmpty).mkString(" ")

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Union-find components over an edge list: node -> min node id. */
  def components(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  def micros(ts: java.sql.Timestamp): Long =
    ts.getTime / 1000L * 1000000L + (ts.getNanos / 1000) % 1000000L
}

/** Generated inputs of one workload: where they are, how many rows the
  * pipeline reads per iteration, and a one-line statement of the sizes
  * and shares used. */
trait Inputs {
  def dir: File
  def inputRows: Long
  def describe: String
}

// ---------------------------------------------------------------- cpi_etl

final case class CpiTruth(
    rows: Long,
    /** source name -> (supplier, retailer) key parts */
    keys: Seq[(String, (String, String))],
    finalSchema: Seq[(String, DataType)],
    /** division -> (rows, sum of filled price, sum of raw price*qty) */
    perDivision: Map[String, (Long, Long, Long)],
    /** (division, month as epoch day) -> raw price*qty total */
    divMonthExp: Map[(String, Int), Long],
    /** number of (retailer, item) series */
    groupCount: Long,
    categoryToDivision: Seq[(String, String)])

final class CpiInputs(val dir: File, val truth: CpiTruth, val describe: String)
    extends Inputs {
  def inputRows: Long = truth.rows
  def sources: Seq[String] = truth.keys.map(_._1)
}

object CpiGen {
  val Divisions: Seq[String] = (1 to 12).map(d => f"cp$d%02d")
  val Categories: Seq[String] = (0 until 60).map(c => f"cat$c%02d")
  val Div: Map[String, String] =
    Categories.zipWithIndex.map { case (c, i) => c -> Divisions(i % Divisions.size) }.toMap

  /** Sources fall into eight schema families (source index mod 8), so
    * every variant is present for any seed and the expected coerced
    * schema is fixed. */
  val Families = 8
  private def priceType(s: Int): DataType = s % Families % 4 match {
    case 0 | 1 => LongType
    case 2 => DoubleType
    case _ => DecimalType(10, 0)
  }
  private def qtyType(s: Int): DataType = s % Families / 2 % 3 match {
    case 0 => IntegerType
    case 1 => LongType
    case _ => DoubleType
  }
  private def storeIsString(s: Int): Boolean = s % Families == 7
  private def hasDiscount(s: Int): Boolean = s % Families % 4 != 3
  private def hasBrand(s: Int): Boolean = s % Families % 3 != 2

  def generate(spark: SparkSession, root: File, seed: Long, sz: Sizes): CpiInputs = {
    val rnd = new Random(seed * 7919L + 1L)
    val dir = new File(root, "cpi_etl"); dir.mkdirs()
    val base = java.time.LocalDate.of(2022, 1, 1)
    val months = (0 until sz.cpiMonths).map(m => base.plusMonths(m.toLong))
    var rows = 0L
    val perDiv = mutable.HashMap.empty[String, (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
    val divMonth = mutable.HashMap.empty[(String, Int), Long].withDefaultValue(0L)
    var groups = 0L
    val tables = mutable.ArrayBuffer.empty[(String, StructType, Seq[Row])]
    val keys = (0 until sz.cpiSources).map { s =>
      val name = f"src$s%02d"
      val supplier = s"sup${s % 4}"
      val retailer = f"ret$s%02d"
      val fields = Seq(
        StructField("item_id", LongType),
        StructField("month", DateType),
        StructField("category", StringType),
        StructField("store_id", if (storeIsString(s)) StringType else LongType),
        StructField("price", priceType(s)),
        StructField("quantity", qtyType(s))) ++
        (if (hasDiscount(s)) Seq(StructField("discount", IntegerType)) else Nil) ++
        (if (hasBrand(s)) Seq(StructField("brand", StringType)) else Nil)
      val out = mutable.ArrayBuffer.empty[Row]
      (0 until sz.cpiItemsPerSource).foreach { it =>
        val item = s.toLong * 100000L + it
        val cat = Categories(rnd.nextInt(Categories.size))
        val div = Div(cat)
        val store = 1000L + rnd.nextInt(50)
        val brand = s"b${rnd.nextInt(30)}"
        var price = 100L + rnd.nextInt(5000)
        var lastFy = Int.MinValue
        var carried: Option[Long] = None
        groups += 1
        months.foreach { m =>
          price = math.max(1L, price + rnd.nextInt(41) - 20)
          val observed = if (rnd.nextDouble() < 0.12) None else Some(price)
          val qty = 1L + rnd.nextInt(40)
          // Feb..Jan fiscal year, the forward fill's partition
          val fy = m.minusMonths(1).getYear
          if (fy != lastFy) { carried = None; lastFy = fy }
          if (observed.isDefined) carried = observed
          val filled = carried.getOrElse(0L)
          val exp = observed.map(_ * qty).getOrElse(0L)
          val (n0, p0, e0) = perDiv(div)
          perDiv(div) = (n0 + 1, p0 + filled, e0 + exp)
          divMonth((div, m.toEpochDay.toInt)) += exp
          rows += 1
          val priceV: Any = observed.map { p =>
            priceType(s) match {
              case LongType => p
              case DoubleType => p.toDouble
              case _ => new java.math.BigDecimal(p)
            }
          }.orNull
          val qtyV: Any = qtyType(s) match {
            case IntegerType => qty.toInt
            case LongType => qty
            case _ => qty.toDouble
          }
          val storeV: Any = if (storeIsString(s)) s"st$store" else store
          val vals = Seq[Any](item, java.sql.Date.valueOf(m), cat, storeV, priceV, qtyV) ++
            (if (hasDiscount(s)) Seq(rnd.nextInt(30)) else Nil) ++
            (if (hasBrand(s)) Seq(brand) else Nil)
          out += Row.fromSeq(vals)
        }
      }
      tables += ((name, StructType(fields), out.toSeq))
      name -> (supplier, retailer)
    }
    ParquetOut.writeAll(spark, dir, tables.toSeq)
    // The coercion rule: string wins, else the widest numeric present.
    val order = Seq(DecimalType(10, 0), DoubleType, LongType, IntegerType)
    def widest(ts: Seq[DataType]) = order.find(ts.contains).get
    val srcs = 0 until sz.cpiSources
    val finalSchema = Seq(
      "supplier" -> StringType, "retailer" -> StringType,
      "item_id" -> LongType, "month" -> DateType, "category" -> StringType,
      "store_id" -> (if (srcs.exists(storeIsString)) StringType else LongType),
      "price" -> widest(srcs.map(priceType)), "quantity" -> widest(srcs.map(qtyType)),
      "discount" -> IntegerType, "brand" -> StringType)
    val truth = CpiTruth(rows, keys, finalSchema, perDiv.toMap, divMonth.toMap,
      groups, Div.toSeq.sortBy(_._1))
    val desc = s"cpi_etl: ${sz.cpiSources} sources x ${sz.cpiItemsPerSource} items x " +
      s"${sz.cpiMonths} months = $rows rows in $Families schema families; price drifts " +
      "long/double/decimal(10,0) (50/25/25% of sources), quantity int/long/double " +
      "(50/25/25%), store_id string in 12.5%, discount missing in 25%, brand missing " +
      "in 25%; 12% of prices null"
    new CpiInputs(dir, truth, desc)
  }
}

// -------------------------------------------------------------- llm_dedup

final case class LlmTruth(
    texts: Map[Long, String],
    scores: Map[Long, Double],
    vecs: Map[Long, Array[Float]],
    /** id kept by exact text dedup for every normalized text */
    exactKept: Set[Long],
    /** planted near-text cluster id per member doc */
    nearCluster: Map[Long, Long],
    /** planted semantic group id per member doc */
    semGroup: Map[Long, Long])

final class LlmInputs(val dir: File, val truth: LlmTruth, val describe: String)
    extends Inputs {
  def inputRows: Long = truth.texts.size.toLong
}

object LlmGen {
  val Dims = 64
  val ExactShare = 0.04
  val NearShare = 0.06
  val SemShare = 0.06

  private def gauss(rnd: Random, n: Int, sd: Double): Array[Double] =
    Array.fill(n)(rnd.nextGaussian() * sd)
  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  private def jitter(rnd: Random, v: Array[Float], sd: Double): Array[Float] =
    unit(v.map(_.toDouble).zip(gauss(rnd, v.length, sd)).map { case (a, b) => a + b })

  def generate(spark: SparkSession, root: File, seed: Long, sz: Sizes): LlmInputs = {
    val rnd = new Random(seed * 104729L + 3L)
    val vocab = new Vocab(20000, 1.05)
    val centers = Array.fill(sz.llmClusters)(unit(gauss(rnd, Dims, 1.0)).map(_.toDouble))
    // Specs before ids: (text, vec, nearGroup, semGroup); ids are assigned
    // after a seeded shuffle so copies never sit next to their originals.
    final case class Spec(text: String, vec: Array[Float], near: Long, sem: Long)
    val specs = mutable.ArrayBuffer.empty[Spec]
    val seen = mutable.HashSet.empty[String]
    var b = 0
    while (b < sz.llmBaseDocs) {
      val toks = vocab.doc(rnd, 40, 100)
      val text = toks.mkString(" ")
      if (seen.add(Truth.normalize(text))) {
        val c = centers(rnd.nextInt(centers.length))
        // within-cluster spread: cosine between members ~0.3
        val vec = unit(c.zip(gauss(rnd, Dims, math.sqrt(2.0 / Dims))).map { case (x, y) => x + y })
        val g = b.toLong
        val u = rnd.nextDouble()
        specs += Spec(text, vec, if (u < ExactShare + NearShare) g else -1L,
          if (u >= ExactShare + NearShare && u < ExactShare + NearShare + SemShare) g else -1L)
        if (u < ExactShare) {
          // exact copy up to case and punctuation
          specs += Spec(text.capitalize + " !", vec, g, -1L)
        } else if (u < ExactShare + NearShare) {
          (0 until 1 + rnd.nextInt(2)).foreach { _ =>
            specs += Spec(vocab.mutate(rnd, toks, 0.04).mkString(" "),
              jitter(rnd, vec, 0.01), g, -1L)
          }
        } else if (u < ExactShare + NearShare + SemShare) {
          (0 until 1 + rnd.nextInt(2)).foreach { _ =>
            // paraphrase: new words, nearly the same embedding
            specs += Spec(vocab.doc(rnd, 40, 100).mkString(" "),
              jitter(rnd, vec, 0.15 / math.sqrt(Dims)), -1L, g)
          }
        }
        b += 1
      }
    }
    val order = rnd.shuffle(specs.indices.toVector)
    val texts = mutable.HashMap.empty[Long, String]
    val scores = mutable.HashMap.empty[Long, Double]
    val vecs = mutable.HashMap.empty[Long, Array[Float]]
    val near = mutable.HashMap.empty[Long, Long]
    val sem = mutable.HashMap.empty[Long, Long]
    val docRows = mutable.ArrayBuffer.empty[Row]
    val embRows = mutable.ArrayBuffer.empty[Row]
    order.zipWithIndex.foreach { case (si, idx) =>
      val s = specs(si); val id = idx.toLong
      val score = rnd.nextInt(1000).toDouble
      texts(id) = s.text; scores(id) = score; vecs(id) = s.vec
      if (s.near >= 0) near(id) = s.near
      if (s.sem >= 0) sem(id) = s.sem
      docRows += Row(id, s.text, score)
      embRows += Row(id, s.vec.toSeq)
    }
    val dir = new File(root, "llm_dedup"); dir.mkdirs()
    ParquetOut.writeAll(spark, dir, Seq(
      ("documents", StructType(Seq(StructField("id", LongType),
        StructField("text", StringType), StructField("score", DoubleType))), docRows.toSeq),
      ("embeddings", StructType(Seq(StructField("id", LongType),
        StructField("vec", ArrayType(FloatType, containsNull = false)))), embRows.toSeq)))
    val exactKept = texts.groupBy { case (_, t) => Truth.normalize(t) }
      .values.map(_.keys.min).toSet
    val truth = LlmTruth(texts.toMap, scores.toMap, vecs.toMap, exactKept,
      near.toMap, sem.toMap)
    val desc = s"llm_dedup: ${texts.size} docs from ${sz.llmBaseDocs} originals over a " +
      s"Zipf(1.05) 20k-word vocabulary, ${Dims}-d embeddings in ${sz.llmClusters} " +
      s"clusters; ${(ExactShare * 100).round}% of originals get an exact copy, " +
      s"${(NearShare * 100).round}% 1-2 near-text copies (4% tokens replaced), " +
      s"${(SemShare * 100).round}% 1-2 paraphrases (cosine ~0.99)"
    new LlmInputs(dir, truth, desc)
  }
}

// ---------------------------------------------------------- stream_ingest

final case class GateTruth(
    /** the arriving shard and its planted duplicates of either ledger
      * generation; every other shard doc is new */
    shard: Set[Long], shardDups: Set[Long], rows: Long)

final class GateInputs(val dir: File, val truth: GateTruth, val describe: String)
    extends Inputs {
  def inputRows: Long = truth.rows
}

final case class FactsTruth(
    /** (region, product) -> (n, amount_sum, qty_sum, amount_min, amount_max) */
    rollup: Map[(String, Long), (Long, Long, Long, Long, Long)],
    /** (user, start_us, end_us, n, value_sum) */
    sessions: Set[(Long, Long, Long, Long, Double)],
    gapUs: Long,
    rows: Long)

final class FactsInputs(val dir: File, val truth: FactsTruth, val describe: String)
    extends Inputs {
  def inputRows: Long = truth.rows
}

/** Documents for the streaming near-dup gate: two ledger generations
  * and the arriving shard. */
object GateGen {
  def generate(spark: SparkSession, root: File, seed: Long, sz: Sizes): GateInputs = {
    val rnd = new Random(seed * 15485863L + 5L)
    val vocab = new Vocab(20000, 1.05)
    val dir = new File(root, "stream_gate"); dir.mkdirs()
    val docSchema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    def fresh(): Array[String] = vocab.doc(rnd, 40, 100)
    var nextId = 1000000L
    def ids(n: Int): Vector[Long] = { val v = (nextId until nextId + n).toVector; nextId += n; v }

    // ledger generation 0, and generation 1: a previously ingested shard
    val ledger = Vector.fill(sz.streamLedgerDocs)(fresh())
    val ledgerIds = ids(ledger.size)
    val prev = Vector.fill(sz.streamShardDocs)(fresh())
    val prevIds = ids(prev.size)
    // the arriving shard: 80% new; 10% near and 5% exact copies of
    // generation-0 docs, 5% near copies of generation-1 docs
    val shardIds = ids(sz.streamShardDocs)
    val shard = shardIds.map { id =>
      val u = rnd.nextDouble()
      if (u < 0.10) (id, vocab.mutate(rnd, ledger(rnd.nextInt(ledger.size)), 0.04), true)
      else if (u < 0.15) (id, ledger(rnd.nextInt(ledger.size)), true)
      else if (u < 0.20) (id, vocab.mutate(rnd, prev(rnd.nextInt(prev.size)), 0.04), true)
      else (id, fresh(), false)
    }
    def docRows(ids: Seq[Long], docs: Seq[Array[String]]) =
      ids.zip(docs).map { case (id, t) => Row(id, t.mkString(" ")) }
    ParquetOut.writeAll(spark, dir, Seq(
      ("ledger_docs", docSchema, docRows(ledgerIds, ledger)),
      ("prev_shard", docSchema, docRows(prevIds, prev)),
      ("shard", docSchema, docRows(shard.map(_._1), shard.map(_._2)))))
    val truth = GateTruth(shardIds.toSet, shard.filter(_._3).map(_._1).toSet,
      ledger.size.toLong + prev.size + shard.size)
    val desc = s"near-dup gate: ledger grown from ${ledger.size} + ${prev.size} docs, a " +
      s"shard of ${shard.size} docs (15% copies of the first generation, 5% of the second)"
    new GateInputs(dir, truth, desc)
  }
}

/** Fact and event tables for the streaming rollup and sessionizer. */
object FactsGen {
  val Regions: Seq[String] = (0 until 12).map(r => s"r$r")
  val Products = 150
  val GapUs: Long = 30L * 60L * 1000000L

  def generate(spark: SparkSession, root: File, seed: Long, sz: Sizes): FactsInputs = {
    val rnd = new Random(seed * 32452843L + 7L)
    val dir = new File(root, "stream_facts"); dir.mkdirs()
    // facts for the incremental rollup
    val rollup = mutable.HashMap.empty[(String, Long), (Long, Long, Long, Long, Long)]
    val facts = (0 until sz.streamFacts).map { i =>
      val region = Regions(rnd.nextInt(Regions.size))
      val product = rnd.nextInt(Products).toLong
      val amount = 1L + rnd.nextInt(10000)
      val qty = 1L + rnd.nextInt(20)
      val k = (region, product)
      rollup(k) = rollup.get(k) match {
        case None => (1L, amount, qty, amount, amount)
        case Some((n, s, q, lo, hi)) =>
          (n + 1, s + amount, q + qty, math.min(lo, amount), math.max(hi, amount))
      }
      Row(i.toLong, region, product, amount, qty)
    }
    val tables = mutable.ArrayBuffer[(String, StructType, Seq[Row])](("facts", StructType(Seq(
      StructField("fact_id", LongType), StructField("region", StringType),
      StructField("product", LongType), StructField("amount", LongType),
      StructField("qty", LongType))), facts))

    // events for sessionization: per-user gaps, 1 in 6 beyond the gap
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli * 1000L
    var eid = 0L
    val sessions = mutable.HashSet.empty[(Long, Long, Long, Long, Double)]
    val evRows = mutable.ArrayBuffer.empty[Row]
    (0 until sz.streamUsers).foreach { u =>
      var ts = t0 + rnd.nextInt(3600).toLong * 1000000L
      var start = -1L; var last = -1L; var n = 0L; var sum = 0.0
      (0 until sz.streamEventsPerUser).foreach { _ =>
        ts += (if (rnd.nextInt(6) == 0) GapUs + 1000000L * (1 + rnd.nextInt(7200))
          else 1000000L * (1 + rnd.nextInt(600)))
        val value = rnd.nextInt(100).toDouble
        if (start >= 0 && ts - last > GapUs) {
          sessions += ((u.toLong, start, last, n, sum)); start = -1L
        }
        if (start < 0) { start = ts; n = 0L; sum = 0.0 }
        last = ts; n += 1; sum += value
        evRows += Row(eid, new java.sql.Timestamp(ts / 1000L), u.toLong,
          if (rnd.nextBoolean()) "view" else "click", value)
        eid += 1
      }
      sessions += ((u.toLong, start, last, n, sum))
    }
    tables += (("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType))), evRows.toSeq))
    ParquetOut.writeAll(spark, dir, tables.toSeq)

    val truth = FactsTruth(rollup.toMap, sessions.toSet, GapUs, facts.size.toLong + evRows.size)
    val desc = s"streamed facts: ${facts.size} facts over ${Regions.size * Products} keys, " +
      s"${evRows.size} events of ${sz.streamUsers} users (1 in 6 gaps past the 30 min " +
      "session gap)"
    new FactsInputs(dir, truth, desc)
  }
}
