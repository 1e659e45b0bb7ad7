package graftbench

import graft.ingest.{CsvIngestJob, SchemaManifest}
import graft.lake.TxnLake
import graft.plans.GraftSqlDml
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One unit of work in the closed loop. `kind = "read"` ops feed the
  * read-latency metrics; commits are timed inside the op. `run` returns
  * None when the op's answer checks out, or a reason when it does not. */
final case class Op(name: String, kind: String, run: () => Option[String])

/** Shared by the workloads: the session, the tracer, the run's scratch
  * root and what the commit and ingest steps measured. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val root: String,
                val seed: Long, val sf: Double) {
  val commits = mutable.ArrayBuffer.empty[(String, Double, Long)] // (type, ms, op id)
  var opId = 0L
  var ingestRows = 0L
  var ingestNs = 0L

  /** Run one commit as a call into the lake layer and record its time. */
  def commit[A](kind: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = tracer.call(s"lake.$kind", "lake")(body)
    commits += ((kind, (System.nanoTime() - t0) / 1e6, opId))
    r
  }
}

trait Workload {
  /** Build the workload's tables under `dir`; timed and repeated for
    * `setup_s`, the last build is the one the loop uses. */
  def build(dir: String): Unit
  /** Un-timed passes that fill caches and warm the JIT. */
  def warmup(): Unit
  /** The ops of cycle `n`, in seeded order. */
  def cycle(n: Int): Seq[Op]
  /** About how long one cycle takes on a 4-core machine; a run of S
    * seconds is round(S / nominalCycleS) cycles. */
  def nominalCycleS: Double
  /** End-of-run checks; each returned string is a failure. */
  def finish(): Seq[String]
  /** Live rows at the end, for `lake_bytes_per_row`; None = no lake table. */
  def liveRows: Option[Long] = None
  def tableDir: Option[String] = None
}

object Digest {
  private val P = 2147483647L

  /** Order-insensitive digest of every row: row count plus two sums of
    * a per-row hash. Floating values are hashed at 9 significant digits
    * so the digest does not depend on summation order. */
  def of(df: DataFrame): (Long, Long, Long) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val norm = renamed.schema.fields.map { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c)
        case ArrayType(DoubleType | FloatType, _) => transform(c, x => format_string("%.6g", x))
        case _: MapType | _: StructType | ArrayType(_: StructType, _) => to_json(c)
        case _ => c
      }
    }
    val h = if (norm.isEmpty) lit(0L) else xxhash64(norm: _*)
    val r = renamed.agg(count(lit(1)), sum(pmod(h, lit(P))), bit_xor(h)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** The answers olap_mix must return, one digest per query and scale,
  * committed in `perfbench/expected/olap_mix.json`:
  * `{"digests": {"<sf>": {"<query>": [rows, hash sum, hash xor]}}}`. */
object Expected {
  def scaleKey(sf: Double): String =
    java.math.BigDecimal.valueOf(sf).stripTrailingZeros.toPlainString

  /** The digests recorded for `sf`; empty when none were. */
  def load(path: String, sf: Double): Map[String, (Long, Long, Long)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val at = root.path("digests").path(scaleKey(sf))
    at.fieldNames().asScala.map { q =>
      val d = at.get(q)
      q -> ((d.get(0).asLong, d.get(1).asLong, d.get(2).asLong))
    }.toMap
  }
}

/** Read path over plain parquet: a fixed sample of the relational `q*`
  * queries and of the execution-bound spot queries, each op one builder
  * call plus one digest action. The data is the same for every seed, so
  * every answer is checked against a committed digest; the seed fixes
  * the order. */
final class OlapMix(ctx: Ctx, expected: Map[String, (Long, Long, Long)]) extends Workload {
  import OlapMix._
  private val spark = ctx.spark
  private var dataDir = ""
  private val queries = graft.SparkEntry.queries
  private val names: Seq[String] = Relational ++ SpotQueries

  def build(dir: String): Unit = {
    DataGen.write(spark, dir, DataSeed, ctx.sf)
    dataDir = dir
  }

  private def runQuery(name: String): (Long, Long, Long) = {
    val df = ctx.tracer.call(name, if (SpotQueries.contains(name)) "operators" else "analytics")(
      queries(name)(spark, dataDir))
    ctx.tracer.call("action", "exec")(Digest.of(df))
  }

  private def order(n: Int): Seq[String] =
    new scala.util.Random(ctx.seed * 1000003L + n).shuffle(names)

  /** One pass over every query. Its digests are printed, which is how
    * `expected/olap_mix.json` is recorded. */
  def warmup(): Unit = {
    val got = names.map { n =>
      try n -> runQuery(n) finally spark.catalog.clearCache()
    }
    println(got.map { case (n, (r, s, x)) => s""""$n":[$r,$s,$x]""" }
      .mkString(s"""{"warmup_digests":{"${Expected.scaleKey(ctx.sf)}":{""", ",", "}}}"))
  }

  def cycle(n: Int): Seq[Op] = order(n).map { q =>
    Op(q, "read", () => {
      val got = try runQuery(q) finally spark.catalog.clearCache()
      expected.get(q) match {
        case Some(want) if got == want => None
        case Some(want) => Some(s"digest $got, expected $want")
        case None => Some(s"digest $got, none recorded at sf ${Expected.scaleKey(ctx.sf)}")
      }
    })
  }

  def finish(): Seq[String] = Nil
  def nominalCycleS: Double = 7.5
}

object OlapMix {
  /** The seed of olap_mix's generated tables, fixed so that the
    * committed digests hold for every run seed. */
  val DataSeed = 1L

  /** Every seventh relational query by name (10 of 67). A cold pass
    * over all 77 queries takes ~80 s on 4 cores, more than one run's
    * share of the benchmark's time budget. */
  val Relational: Seq[String] = graft.SparkEntry.queries.keys
    .filter(_.matches("q[0-9]+_.*")).toSeq.sorted
    .zipWithIndex.collect { case (n, i) if i % 7 == 0 => n }
  /** Two spot queries from the operator library: a grid-cell spatial
    * join and BM25 text ranking, the two cheapest of the ten at sf 0.01. */
  val SpotQueries: Seq[String] = Seq("gq04_spatial_join", "tx14_bm25")
}

/** Write path: CSV ingest into an orders lake table plus API and SQL DML
  * commits, checked after every read against an in-memory model of the
  * live rows and of every committed version. */
final class LakeCommit(ctx: Ctx) extends Workload {
  import LakeCommit.Order
  private val spark = ctx.spark
  // the loop's draws; each build draws its rows from a fresh generator,
  // so the number of builds does not change the loop's data
  private val rnd = new java.util.SplittableRandom(ctx.seed ^ 0x9E3779B97F4A7C15L)
  private var dir = ""

  /** (rows, Σkey, Σcust, Σcents, Σ key·status code mod P) — the same
    * fingerprint [[fingerprint]] computes in Spark. */
  private type Fp = (Long, Long, Long, Long, Long)
  private val P = 1000000007L
  private def fpOf(rows: Iterable[Order]): Fp = rows.foldLeft((0L, 0L, 0L, 0L, 0L)) {
    case ((n, k, c, m, s), o) =>
      (n + 1, k + o.key, c + o.cust, m + o.cents, (s + o.key % P * o.status.head.toLong) % P)
  }
  private def fingerprint(df: DataFrame): Fp = {
    val r = df.agg(count(lit(1)), sum(col("o_orderkey")), sum(col("o_custkey")),
      sum(round(col("o_totalprice") * 100).cast("long")),
      sum(pmod(col("o_orderkey"), lit(P)) * ascii(col("o_orderstatus")))).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (l(0), l(1), l(2), l(3), l(4) % P)
  }

  private val live = mutable.LinkedHashMap.empty[Long, Order]
  private val liveKeys = mutable.ArrayBuffer.empty[Long] // for seeded picks
  private val versions = mutable.ArrayBuffer.empty[Fp]   // fingerprint per version
  private var nextKey = 0L
  private val day0 = java.time.LocalDate.of(1995, 1, 1)

  private def randomOrder(key: Long, r: java.util.SplittableRandom = rnd): Order =
    Order(key, r.nextLong(Customers), Seq("O", "F", "P")(r.nextInt(3)),
      100000L + r.nextLong(49900000L), r.nextInt(2404), DataGen.Priorities(r.nextInt(5)))

  private def put(o: Order): Unit = {
    if (!live.contains(o.key)) liveKeys += o.key
    live(o.key) = o
  }
  private def remove(key: Long): Unit = if (live.remove(key).isDefined) {
    val i = liveKeys.indexOf(key)
    liveKeys(i) = liveKeys.last
    liveKeys.remove(liveKeys.size - 1)
  }
  private def committed(): Unit = versions += fpOf(live.values)

  private def toDf(rows: Seq[Order]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(o => Row(o.key, o.cust, o.status,
      o.cents / 100.0, java.sql.Timestamp.valueOf(day0.plusDays(o.day.toLong).atStartOfDay()),
      o.prio)), 1), LakeCommit.Schema)

  private val Customers = DataGen.sizes(ctx.sf).customer
  private val manifest = SchemaManifest.parse(LakeCommit.Schema.fields.map { f =>
    s"""{"key":"${f.name}","type":"${f.dataType.typeName}","partition_key":"false","comment":""}"""
  }.mkString("""{"schema":[""", ",", "]}"))

  def build(d: String): Unit = {
    live.clear(); liveKeys.clear(); versions.clear()
    val n = DataGen.sizes(ctx.sf).orders
    val buildRnd = new java.util.SplittableRandom(ctx.seed)
    val rows = (0L until n).map(randomOrder(_, buildRnd))
    rows.foreach(put)
    nextKey = n
    TxnLake.create(spark, d, toDf(rows), "o_orderpriority", statsCol = Some("o_totalprice"))
    committed()
    dir = d
  }

  private def ingest(batch: Int): Op = {
    val rows = (0 until batch).map { _ => val o = randomOrder(nextKey); nextKey += 1; o }
    val stage = Paths.get(ctx.root, "ingest", s"b${rows.head.key}")
    Files.createDirectories(stage)
    val raw = stage.resolve("raw.csv")
    Files.writeString(raw, rows.map(o =>
      Seq(o.key, o.cust, o.status, o.cents / 100.0,
        s"${day0.plusDays(o.day.toLong)} 00:00:00", o.prio).mkString(","))
      .mkString(LakeCommit.Schema.fieldNames.mkString("", ",", "\n"), "\n", "\n"))
    Op("append", "commit", () => {
      val t0 = System.nanoTime()
      val massaged = stage.resolve("massaged").toString
      val typed = stage.resolve("typed").toString
      val m = ctx.tracer.call("ingest.massage", "ingest")(
        CsvIngestJob.massageFile(spark, raw.toString, massaged, manifest = Some(manifest)))
      val p = ctx.tracer.call("ingest.promote", "ingest")(
        CsvIngestJob.promote(spark, massaged, typed, manifest))
      (m, p) match {
        case (CsvIngestJob.Ok(_, _), CsvIngestJob.Ok(_, n)) if n == batch =>
          ctx.commit("append")(TxnLake.append(spark, dir, spark.read.parquet(typed)))
          ctx.ingestNs += System.nanoTime() - t0
          ctx.ingestRows += n
          rows.foreach(put); committed()
          None
        case other => Some(s"ingest result $other")
      }
    })
  }

  private def pickLive(): Long = liveKeys(rnd.nextInt(liveKeys.size))

  // Reads take partitions round-robin from a seeded start and versions
  // one to four behind the head in turn: the cost of a read depends on
  // the partition's and the version's files, and a seeded pick per read
  // made the read mix, and so the latency, differ from seed to seed.
  private val firstPartition = rnd.nextInt(5)
  private var partitionReads = 0
  private var versionReads = 0

  def cycle(n: Int): Seq[Op] = {
    val upKey = pickLive()
    val newCents = 100000L + rnd.nextLong(49900000L)
    val update = Op("update", "commit", () => {
      val k = ctx.commit("update")(TxnLake.updateWhere(spark, dir, col("o_orderkey") === upKey,
        Map("o_totalprice" -> lit(newCents / 100.0), "o_orderstatus" -> lit("U"))))
      live.get(upKey).foreach(o => put(o.copy(cents = newCents, status = "U")))
      committed()
      if (k == 1L) None else Some(s"updateWhere changed $k rows, expected 1")
    })
    val delKey = pickLive()
    val delete = Op("delete", "commit", () => {
      ctx.commit("delete")(GraftSqlDml.exec(spark,
        s"DELETE FROM graft_txn.`$dir` WHERE o_orderkey = $delKey").collect())
      remove(delKey); committed()
      None
    })
    val merge = Op("merge", "commit", () => {
      val src = (0 until 20).map { _ =>
        live(pickLive()).copy(cents = 100000L + rnd.nextLong(49900000L), status = "M")
      }.distinctBy(_.key) ++
        (0 until 20).map { _ => val o = randomOrder(nextKey); nextKey += 1; o }
      toDf(src).createOrReplaceTempView("graftbench_merge_src")
      ctx.commit("merge")(GraftSqlDml.exec(spark,
        s"""MERGE INTO graft_txn.`$dir` t USING graftbench_merge_src s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
      src.foreach(put); committed()
      None
    })
    def readLatest = Op("read_partition", "read", () => {
      val prio = DataGen.Priorities((firstPartition + partitionReads) % 5)
      partitionReads += 1
      val df = ctx.tracer.call("lake.read", "lake")(TxnLake.read(spark, dir))
        .where(col("o_orderpriority") === prio)
      val got = ctx.tracer.call("action", "exec")(fingerprint(df))
      val want = fpOf(live.values.filter(_.prio == prio))
      if (got == want) None else Some(s"partition $prio: $got, expected $want")
    })
    def readOld = Op("read_version", "read", () => {
      val v = math.max(0, versions.size - 2 - versionReads % 4)
      versionReads += 1
      val df = ctx.tracer.call("lake.read", "lake")(TxnLake.readVersion(spark, dir, v.toLong))
      val got = ctx.tracer.call("action", "exec")(fingerprint(df))
      if (got == versions(v)) None else Some(s"version $v: $got, expected ${versions(v)}")
    })
    // a partition read follows every commit and a version read follows
    // the append and the delete, so a short run has more read samples
    // than commit samples
    Seq(ingest(300), readLatest, readOld, update, readLatest, delete,
      readLatest, readOld, merge, readLatest)
  }

  def warmup(): Unit = cycle(-1).foreach(_.run().foreach(e =>
    throw new IllegalStateException(s"warm-up op failed: $e")))

  def finish(): Seq[String] = {
    val got = fingerprint(TxnLake.read(spark, dir))
    val head = TxnLake.currentVersion(spark, dir)
    Seq(
      if (got == fpOf(live.values)) None else Some(s"final snapshot $got, expected ${fpOf(live.values)}"),
      if (head == versions.size - 1) None else Some(s"head version $head, expected ${versions.size - 1}")
    ).flatten
  }

  def nominalCycleS: Double = 6.5
  override def liveRows: Option[Long] = Some(live.size.toLong)
  override def tableDir: Option[String] = Some(dir)
}

object LakeCommit {
  /** One orders row; `cents` = o_totalprice * 100. */
  final case class Order(key: Long, cust: Long, status: String, cents: Long,
                         day: Int, prio: String)

  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
}
