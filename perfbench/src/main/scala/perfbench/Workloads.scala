package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{DecimalType, DoubleType, TimestampType}

import graft.SparkEntry
import graft.jobs.Pipeline
import graft.lake.Lake
import graft.model.CheckRegistry
import graft.sources.{Refresh, TaFetchStub, TaRefreshStub}
import graft.views.Views

/** What the correctness gate compares one read against: the DuckDB oracle
  * SQL of `oracle` (from `SparkEntry.oracleSql`) and, for a tagged view,
  * the tag columns the view LEFT JOINs from the `tags` table on `joinKey`. */
final case class Check(oracle: String, tagCols: Seq[String] = Nil,
    joinKey: Option[String] = None) {
  /** The oracle SQL with, for a tagged view, the tag columns joined on from
    * the dumped `tags` table (the `TaIngest.tags` pivot the pipeline wrote),
    * so they are checked against that pivot. */
  def sql(oracleSql: String): String = joinKey match {
    case Some(key) if tagCols.nonEmpty =>
      def q(n: String) = "\"" + n.replace("\"", "\"\"") + "\""
      val tags = s"${graft.queries.TaQueries.dumpRoot}/tags/*.parquet"
      s"SELECT o.*, ${tagCols.map(t => s"tg.${q(t)}").mkString(", ")} " +
        s"FROM ($oracleSql) o LEFT JOIN read_parquet('$tags') tg " +
        s"ON o.${q(key)} = tg.resourceid AND o.datetime = tg.datetime"
    case _ => oracleSql
  }
}

trait Workload {
  def name: String
  /** Run one pass: every op of the workload once, through `ctx`. */
  def pass(ctx: Ctx): Unit
  /** After the timed passes, with the checked pass's context: write what
    * the oracles need beyond the checked outputs. */
  def finish(ctx: Ctx): Unit = ()
  /** Bytes of source input per pass, for `lake.write_amp` (0 = none). */
  def sourceBytes: Long = 0L
  /** Input partitions the pass's sources plan, for `sources.partitions`. */
  def sourcePartitions(spark: SparkSession): Long = 0L
}

object Workload {
  /** `curation_iter`'s queries and the op family each rolls up into: one
    * query each of connected components, BPE and PQ, plus a stateful
    * streaming dedup and a table-format feed so the streaming layer and the
    * manifest lake are measured too. */
  val curationQueries: Seq[(String, String)] = Seq(
    "q43_dedup_components" -> "cc",
    "q125_bpe_tokens" -> "bpe",
    "q84_ann_pq" -> "pq",
    "q74_stream_dedup" -> "stream",
    "q264_stream_table_feed" -> "stream")

  def apply(a: Args): Workload = a.workload match {
    case "ta_pipeline" => new TaPipeline(a, a.accounts.getOrElse(
      throw new IllegalArgumentException("ta_pipeline needs --accounts")))
    case "curation_iter" => new CurationIter(a.sfDir.getOrElse(
      throw new IllegalArgumentException("curation_iter needs --sf")),
      a.queries.getOrElse(curationQueries.map(_._1)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** `curation_iter`: the named `SparkEntry.queries` on the generated
  * scale-factor directory, one shared session, the cache cleared between
  * queries. */
final class CurationIter(sfDir: String, queries: Seq[String]) extends Workload {
  val name = "curation_iter"
  private val families = Workload.curationQueries.toMap
  queries.foreach(q => require(SparkEntry.queries.contains(q), s"no query $q"))

  def pass(ctx: Ctx): Unit = queries.foreach { q =>
    ctx.read(q, families.getOrElse(q, "other"), Some(Check(q))) {
      SparkEntry.queries(q)(ctx.session, sfDir)
    }
    ctx.session.catalog.clearCache()
  }
}

/** `ta_pipeline`: the reference's scheduled job end to end at a seeded
  * fan-out of N accounts x the 8 supported checks, then one read of each
  * view.
  * Every pass runs in a fresh session over a fresh lake root, so nothing is
  * memoized across passes. */
final class TaPipeline(a: Args, nAccounts: Int) extends Workload {
  val name = "ta_pipeline"
  private val rnd = new scala.util.Random(a.seed)
  private val accountIds: Seq[String] = {
    val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (ids.size < nAccounts)
      ids += 100000000000L + (rnd.nextDouble() * 899999999999L).toLong
    ids.toSeq.map(i => f"$i%012d")
  }
  private val accounts = accountIds.zipWithIndex.map { case (id, i) =>
    s"$id:Account $i:acct$i@example.com" }.mkString(",")
  private val day = java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(366))
  private val date = day.format(
    java.time.format.DateTimeFormatter.ofPattern("MM-dd-yyyy"))
  private val datetime =
    f"$day ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
  private val checks = CheckRegistry.supported.map(_.id)
  private val pairs = for (acct <- accountIds; c <- checks) yield (acct, c)
  private val tagKeys = Seq("CostCenter", "Env")
  private val resourceTypes = "ec2:instance,ec2:volume"
  private val regions = "us-east-1,eu-west-1"

  /** View -> the q51-q59 oracle that re-derives its rows in DuckDB. */
  private val viewOracle: Map[String, String] = Map(
    "UnderutilizedAmazonEBSVolumes_view" -> "q51_view_ebs",
    "IdleLoadBalancers_view" -> "q52_view_elb",
    "AmazonRDSIdleDBInstances_view" -> "q53_view_rds",
    "UnderutilizedAmazonRedshiftClusters_view" -> "q54_view_redshift",
    "Route53LatencyResourceRecordSets_view" -> "q55_view_route53",
    "UnassociatedElasticIPAddresses_view" -> "q56_view_eip",
    "EC2ReservedInstanceLeaseExpiration_view" -> "q57_view_ri_expiration",
    "summary_view" -> "q58_view_summary",
    "LowUtilizationAmazonEC2Instances_view" -> "q59_view_ec2_full")

  private def check(view: String): Option[Check] = viewOracle.get(view).map {
    oracle =>
      val key = CheckRegistry.all.find(_.viewName == view)
        .flatMap(_.tagJoinKey).map(_.toLowerCase)
      Check(oracle, if (key.isDefined) tagKeys.map(_.toLowerCase) else Nil, key)
  }

  private def checkResults(s: SparkSession): DataFrame =
    s.read.format("graft.sources.TaCheckResultSource")
      .option("accounts", accounts).option("checks", checks.mkString(","))
      .option("date", date).option("datetime", datetime).load()

  private def tagObservations(s: SparkSession): DataFrame =
    s.read.format("graft.sources.TagObservationSource")
      .option("accounts", accounts).option("resourceTypes", resourceTypes)
      .option("regions", regions)
      .option("date", date).option("datetime", datetime).load()

  /** A view's full rows with the engine-boundary casts TaQueries.viewRows
    * applies: timestamps as epoch micros, decimals as doubles. */
  private def viewRows(s: SparkSession, view: String): DataFrame = {
    val v = s.table(view)
    v.select(v.schema.fields.toIndexedSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case TimestampType => unix_micros(c).as(f.name)
        case _: DecimalType => c.cast(DoubleType).as(f.name)
        case _ => c
      }
    }: _*)
  }

  private def lakeRoot(ctx: Ctx): String =
    s"${a.work}/tmp/ta-lake-pass${ctx.pass.idx}"

  def pass(ctx: Ctx): Unit = {
    val s = ctx.freshSession()
    val root = lakeRoot(ctx)
    val polls = ctx.step("refresh", "sources") {
      Refresh.awaitAll(new TaRefreshStub, pairs).map(_.polls).sum
    }
    polls.foreach(p => ctx.pass.extra("refresh_polls") = p.toDouble)
    val cfg = Pipeline.Config(root, tagKeys = tagKeys)
    ctx.step("ingest", "jobs") {
      Pipeline.ingest(checkResults(s), Some(tagObservations(s)), cfg)
    }
    ctx.step("register", "lake") {
      Lake.registerTables(s, root, cfg.specs, tagsPresent = true)
    }
    val views = ctx.step("create_views", "views") {
      Views.createAll(s, tagKeys)
    }.getOrElse(Nil)
    views.foreach(v =>
      ctx.read(s"view:$v", "views", check(v))(viewRows(s, v)))
  }

  /** Dump the checked pass's check, summary and tags tables where the
    * q51-q59 oracle SQL reads them (`TaQueries.dumpRoot`). */
  override def finish(ctx: Ctx): Unit = {
    val s = ctx.session
    val dump = graft.queries.TaQueries.dumpRoot
    (CheckRegistry.supported.map(_.tableName) ++ Seq("summary", "tags"))
      .filter(s.catalog.tableExists).foreach { t =>
        s.table(t).drop("year", "month", "day")
          .write.mode("overwrite").parquet(s"$dump/$t")
      }
  }

  override lazy val sourceBytes: Long = pairs.map { case (acct, c) =>
    TaFetchStub.fetch(acct, c).getBytes("UTF-8").length.toLong }.sum

  override def sourcePartitions(spark: SparkSession): Long =
    checkResults(spark).rdd.getNumPartitions.toLong +
      tagObservations(spark).rdd.getNumPartitions
}
