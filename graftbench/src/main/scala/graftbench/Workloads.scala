package graftbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.{Dedup, Graph, Similarity}
import graft.pipeline.CorpusPipeline
import graft.queries.{Relational, TextQueries}
import graft.sinks.{ManifestStore, TableStore}
import graft.sources.Ingest

/** An op's result as the client sees it: the collected rows. */
final case class Out(rows: Seq[Row], schema: StructType)

object Out {
  def scalar(name: String, v: Long): Out =
    Out(Seq(Row(v)), StructType(Seq(StructField(name, LongType))))
  val empty: Out = Out(Nil, StructType(Nil))
}

/** One workload: a fixed op sequence per pass, run by a single client
  * thread. `oracle` names the ops whose verify-pass output is compared
  * against DuckDB, with the SQL to run there.
  */
trait Workload {
  def oracle: Map[String, String]
  def reset(c: Client): Unit = ()
  def pass(c: Client): Unit
  /** Untimed checks after a pass; each string is one failure. */
  def check(c: Client): Seq[String] = Nil
}

object Workload {
  def apply(name: String, conf: Conf): Workload = name match {
    case "etl"       => new Etl(conf)
    case "operators" => Operators
    case other       => sys.error(s"unknown workload '$other'")
  }

  private[graftbench] def entryOracles(names: Seq[String]): Map[String, String] = {
    val all = graft.SparkEntry.oracleSql
    names.map(n => n -> all(n)).toMap
  }
}

/** The reference's ETL loop in one pass: land, store, upsert and publish
  * order slices, export the tables, then query — graft's course analytics
  * plus seeded, parameterized SQL over the registered views. */
final class Etl(conf: Conf) extends Workload {
  private val read = new EtlRead(conf)
  private val write = new EtlWrite(conf)
  val oracle: Map[String, String] = read.oracle
  override def reset(c: Client): Unit = write.reset(c)
  def pass(c: Client): Unit = { write.pass(c); read.pass(c) }
  override def check(c: Client): Seq[String] = write.check(c)
  def bytesWritten(c: Client): Long = write.bytesWritten(c)
}

/** The query half of [[Etl]]: short queries, so planning and driver time
  * dominate. */
final class EtlRead(conf: Conf) {
  private val relational: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("q1_agg", "q1Agg", Relational.q1Agg _),
    ("q_join", "qJoin", Relational.qJoin _),
    ("q_topk", "qTopK", Relational.qTopK _),
    ("q_daily", "qDaily", Relational.qDaily _),
    ("q_window", "qWindow", Relational.qWindow _),
    ("q_subquery", "qSubquery", Relational.qSubquery _),
    ("q_distinct", "qDistinct", Relational.qDistinct _),
    ("q_rollup", "qRollup", Relational.qRollup _),
    ("t_dedup_key", "tDedupKey", Relational.tDedupKey _))

  val oracle: Map[String, String] =
    Workload.entryOracles(relational.map(_._1)) ++ conf.sql

  def pass(c: Client): Unit = {
    relational.foreach { case (op, call, f) =>
      c.op(op)(c.collect("relational", s"queries.Relational.$call")(f(c.spark, c.dir)))
    }
    conf.sql.toSeq.sortBy(_._1).foreach { case (op, text) =>
      c.op(op)(c.collect("sql", "spark.sql")(c.spark.sql(text)))
    }
  }
}

/** The write half of [[Etl]]: the reference's ingest-and-store loop over
  * landed order-key slices. Reads grow with the table within a pass. */
final class EtlWrite(conf: Conf) {
  private val key = Seq("o_orderkey")
  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
  private val manifestSchema = StructType(Seq(
    StructField("slice", IntegerType), StructField("path", StringType),
    StructField("rows", LongType)))

  private def at(c: Client, t: String) = s"${c.work}/tables/$t"
  private val tables = Seq("lake_orders", "warehouse_orders", "manifest", "export_gz",
    "datalake_orders", "mart_priority")

  def reset(c: Client): Unit = {
    val root = new Path(s"${c.work}/tables")
    root.getFileSystem(c.spark.sparkContext.hadoopConfiguration).delete(root, true)
  }

  /** Autodetected types differ between CSV and parquet; the store's
    * table has one schema. */
  private def conform(df: DataFrame): DataFrame =
    df.select(ordersSchema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)

  def pass(c: Client): Unit = {
    val spark = c.spark
    conf.slices.zipWithIndex.foreach { case (s, i) =>
      var batch: DataFrame = null
      c.op("ingest") {
        batch = conform(c.span("ingest", "read", "sources.Ingest.read")(Ingest.read(spark, s.path)))
        Out(Nil, batch.schema)
      }
      c.commit("store_append") {
        c.span("tablestore", "store", "sinks.TableStore.store") {
          TableStore.store(batch, at(c, "lake_orders"), "append")
        }
        Out.empty
      }
      c.commit("upsert") {
        c.span("tablestore", "upsert", "sinks.TableStore.upsert") {
          TableStore.upsert(spark, at(c, "warehouse_orders"), batch, key)
        }
        Out.empty
      }
      c.commit("publish") {
        val manifest = spark.createDataFrame(
          java.util.List.of(Row(i, s.path, s.rows)), manifestSchema)
        Out.scalar("version", c.span("manifest", "publish", "sinks.ManifestStore.publish") {
          ManifestStore.publish(spark, at(c, "manifest"), manifest)
        })
      }
      c.op("readback") {
        val n = c.span("sink", "readback", "read.parquet.count") {
          spark.read.parquet(at(c, "warehouse_orders")).count()
        }
        if (n != s.warehouseRows)
          c.fail(s"readback after slice $i: $n rows, expected ${s.warehouseRows}")
        Out.scalar("rows", n)
      }
    }
    c.op("write_gzip") {
      c.span("tablestore", "store", "sinks.TableStore.writeCompressed") {
        TableStore.writeCompressed(spark.read.parquet(at(c, "warehouse_orders")), at(c, "export_gz"))
      }
      Out.empty
    }
    c.op("write_partitioned") {
      c.span("tablestore", "store", "sinks.TableStore.writePartitioned") {
        TableStore.writePartitioned(spark.read.parquet(at(c, "lake_orders")),
          at(c, "datalake_orders"), Seq("o_orderstatus"))
      }
      Out.empty
    }
    c.op("store_replace") {
      c.span("tablestore", "store", "sinks.TableStore.store") {
        val mart = spark.read.parquet(at(c, "warehouse_orders"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
        TableStore.store(mart, at(c, "mart_priority"), "replace")
      }
      Out.empty
    }
  }

  def check(c: Client): Seq[String] = {
    val spark = c.spark
    def rows(t: String) = spark.read.parquet(at(c, t)).count()
    val wh = rows("warehouse_orders")
    val lake = rows("lake_orders")
    val gz = rows("export_gz")
    val datalake = rows("datalake_orders")
    val expectWh = conf.slices.last.warehouseRows
    val expectLake = conf.slices.map(_.rows).sum
    val dupKeys = spark.read.parquet(at(c, "warehouse_orders"))
      .groupBy(key.map(col): _*).count().filter(col("count") > 1).count()
    val versions = ManifestStore.versions(spark, at(c, "manifest")).size
    Seq(
      (dupKeys == 0) -> s"warehouse has $dupKeys duplicated keys after upsert",
      (wh == expectWh) -> s"warehouse rows $wh, expected $expectWh",
      (lake == expectLake) -> s"lake rows $lake, expected $expectLake",
      (gz == expectWh) -> s"gzip export rows $gz, expected $expectWh",
      (datalake == expectLake) -> s"datalake rows $datalake, expected $expectLake",
      (versions == conf.slices.size) -> s"manifest has $versions versions, expected ${conf.slices.size}"
    ).collect { case (false, msg) => msg }
  }

  /** Bytes on disk of every table the pass wrote. */
  def bytesWritten(c: Client): Long = {
    val fs = new Path(c.work).getFileSystem(c.spark.sparkContext.hadoopConfiguration)
    tables.map(t => fs.getContentSummary(new Path(at(c, t))).getLength).sum
  }
}

/** The operators graft adds on top of the ETL surface, in one pass: the
  * LLM-data path, then the graph round loops. */
object Operators extends Workload {
  val oracle: Map[String, String] = CorpusDedup.oracle ++ GraphRounds.oracle
  def pass(c: Client): Unit = { CorpusDedup.pass(c); GraphRounds.pass(c) }
}

/** The first half of [[Operators]], the LLM-data path: the composed corpus
  * pipeline, a text scorer, MinHash LSH dedup and the two LSH similarity
  * searches. CPU- and shuffle-bound, few jobs per op. */
object CorpusDedup {
  val oracle: Map[String, String] = Workload.entryOracles(Seq("p_corpus_e2e", "text_quality"))

  def pass(c: Client): Unit = {
    c.op("p_corpus_e2e")(c.collect("pipeline", "pipeline.CorpusPipeline.corpusE2E")(
      CorpusPipeline.corpusE2E(c.spark, c.dir)))
    c.op("text_quality")(c.collect("text", "queries.TextQueries.textQuality")(
      TextQueries.textQuality(c.spark, c.dir)))
    c.op("dedup_minhash") {
      val out = c.collect("dedup", "operators.Dedup.minhashLsh")(Dedup.minhashLsh(c.spark, c.dir))
      c.count("dedup.pairs_out", out.rows.size)
      out
    }
    c.op("ann_knn_lsh")(c.collect("similarity", "operators.Similarity.knnJoinLsh")(
      Similarity.knnJoinLsh(c.spark, c.dir)))
    c.op("ann_lsh")(c.collect("similarity", "operators.Similarity.lshAnn")(
      Similarity.lshAnn(c.spark, c.dir)))
  }
}

/** The second half of [[Operators]], the round loops: PageRank, k-core and
  * Bellman-Ford SSSP. Job count dominates. */
object GraphRounds {
  /** Rounds each call is configured for (the operators' defaults). */
  val rounds: Int = 5 + 8 + 6
  val oracle: Map[String, String] = Workload.entryOracles(Seq("g_pagerank", "g_kcore", "g_sssp"))

  def pass(c: Client): Unit = {
    c.op("g_pagerank")(c.collect("graph", "operators.Graph.pageRank")(Graph.pageRank(c.spark, c.dir)))
    c.op("g_kcore")(c.collect("graph", "operators.Graph.kcore")(Graph.kcore(c.spark, c.dir)))
    c.op("g_sssp")(c.collect("graph", "operators.Graph.sssp")(Graph.sssp(c.spark, c.dir)))
  }
}
