package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.api.{ClaimsElig, McaidCohort, Tabloop, TopCauses}
import graft.api.ClaimsElig.EligParams
import graft.api.McaidCohort.CohortParams
import graft.pipeline.AnalyticPipeline.{mcaidMcareChain, run, StageDef}
import graft.queries.BuildQueries
import graft.queries.Q.t

/** One result an operation returned. `key` identifies its inputs and
  * parameters (equal keys must give equal results); `catalog` names the
  * catalog entry whose oracle it must match, when it has one. */
final case class Result(key: String, catalog: Option[String],
    rows: Array[Row], schema: StructType)

object Result {
  def of(key: String, catalog: Option[String], df: DataFrame): Result =
    Result(key, catalog, df.collect(), df.schema)
}

/** A closed-loop workload driven by one client thread. Each operation is
  * one job as its user submits it; nothing runs before the first one, so
  * a run's first operation pays the JVM's and Spark's cold start, as a
  * scheduled job or a newly opened session does. */
trait Workload {
  /** Runs the next operation; returns what it returned to its user. */
  def op(): Seq[Result]
}

object Workload {
  def apply(name: String, s: SparkSession, dir: String, seed: Long): Workload =
    name match {
      case "etl_chain" => new EtlChain(s, dir)
      case "cohort_api" => new CohortApi(s, dir, seed)
      case "build_batch" => new BuildBatch(s, dir)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
}

/** The ETL operator's nightly table rebuild: the combined mcaid+mcare
  * analytic chain configured as catalog entry q278 (eight stage tables
  * written, QA-gated and promoted inline by the chain runner's
  * speculation pool). Every stage build is wrapped so its call is timed. */
final class EtlChain(s: SparkSession, dir: String) extends Workload {
  private def timed(stages: Seq[StageDef]): Seq[StageDef] = stages.map { st =>
    st.copy(build = (ss, d) => Tracer.span("builds", s"call.${st.table}")(st.build(ss, d)))
  }

  def op(): Seq[Result] = Seq(Tracer.span("pipeline", "run.mcaid_mcare") {
    Result.of("q278_mcaid_mcare_pipeline", Some("q278_mcaid_mcare_pipeline"),
      run(s, dir, timed(mcaidMcareChain)).orderBy(col("stage_seq"), col("item")))
  })
}

/** Standalone catalog builds, one pass in a fixed order, each result
  * collected: the CCW fan-out (q244), the claim-line QA battery (q293),
  * the decontamination operators (q210) and the streaming HLL (q272). */
final class BuildBatch(s: SparkSession, dir: String) extends Workload {
  private val entries = Seq(
    "q244_apcd_ccw" -> "builds", "q293_claim_line_qa" -> "qa", "q210_decontam_pipeline" -> "operators",
    "q272_stream_hll" -> "streaming")

  def op(): Seq[Result] = entries.map { case (name, layer) =>
    val r = Tracer.span(layer, s"entry.${name.takeWhile(_ != '_')}") {
      Result.of(name, Some(name), SparkEntry.queries(name)(s, dir))
    }
    Main.releaseDeadState(s)
    r
  }
}

/** An analyst's session against the cohort and tabulation API, one
  * request at a time, each collected: the six catalog requests (q192 q193
  * q49 q18 q19 q62) with their catalog parameters, then three requests
  * with parameters drawn from the seed (a cohort with its claims summary,
  * a ClaimsElig cohort, top causes), then the seeded top-causes request
  * again. The order is fixed, so seeds differ only in parameter values. */
final class CohortApi(s: SparkSession, dir: String, seed: Long) extends Workload {
  private val rng = new scala.util.Random(seed)
  private def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
  private def subset(xs: Seq[String]): Option[String] =
    if (rng.nextBoolean()) None
    else Some(xs.filter(_ => rng.nextBoolean()).padTo(1, xs.head).mkString(","))

  sealed trait Req { def run(): Result }

  private lazy val frames = BuildQueries.mcaidCohortFrames(s, dir)
  private val ClaimFlags = Seq("inpatient", "ipt_medsurg", "ipt_bh", "ed",
    "ed_avoid_ca", "ed_emergent_nyu", "ed_nonemergent_nyu", "ed_intermediate_nyu")

  private def action(df: DataFrame, key: String, catalog: Option[String]): Result =
    Tracer.span("api", "action")(Result.of(key, catalog, df))

  case class Mcaid(p: CohortParams, claims: Boolean, catalog: Option[String]) extends Req {
    def run(): Result = {
      val (eo, de, ad, cg, hr, cs) = frames
      val c = Tracer.span("api", "call.McaidCohort.cohort")(
        McaidCohort.cohort(eo, de, ad, cg, hr, p))
      val out =
        if (!claims) c
        else {
          val ids = Tracer.span("api", "call.McaidCohort.idsInWindow")(
            McaidCohort.idsInWindow(eo, p))
          Tracer.span("api", "call.McaidCohort.claimsSummary")(
            McaidCohort.claimsSummary(c, ids, cs, ClaimFlags, p.fromDate, p.toDate))
        }
      action(out.orderBy(col("id")), toString, catalog)
    }
  }

  case class Elig(p: EligParams, catalog: Option[String]) extends Req {
    def run(): Result = {
      val df = Tracer.span("api", "call.ClaimsElig.cohort")(
        ClaimsElig.cohort(t(s, dir, "events"), p))
      action(df.orderBy("user_id"), toString, catalog)
    }
  }

  case class Tab(loops: Seq[String], catalog: Option[String]) extends Req {
    def run(): Result = {
      val o = t(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")).cast("string"))
      val df = Tracer.span("api", "call.Tabloop.tabloop")(
        Tabloop.tabloop(o, fixed = Seq("o_orderstatus"), loops = loops,
          aggs = Seq(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("amt")),
          zeroFill = Seq("n", "amt")))
      action(df.orderBy(col("o_orderstatus"), col("group_cat"), col("group_value")),
        toString, catalog)
    }
  }

  case class Suppress(lower: Int, upper: Int, catalog: Option[String]) extends Req {
    def run(): Result = {
      val counts = t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment")).agg(count(lit(1)).as("n"))
      val df = Tracer.span("api", "call.Tabloop.suppress")(
        Tabloop.suppress(counts, Seq("n"), lower = lower, upper = upper))
      action(df.orderBy(col("c_nationkey"), col("c_mktsegment")), toString, catalog)
    }
  }

  case class Top(yr: Int, n: Int, catalog: Option[String]) extends Req {
    def run(): Result = {
      val claims = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .filter(year(col("o_orderdate")) === yr)
        .select(col("p_type").as("cause"), col("o_custkey"))
      val df = Tracer.span("api", "call.TopCauses.topCauses")(
        TopCauses.topCauses(claims, "cause", "o_custkey", n = n))
      action(df, toString, catalog)
    }
  }

  private val catalogReqs: Seq[Req] = Seq(
    Mcaid(BuildQueries.CohortP, claims = false, Some("q192_mcaid_cohort")),
    Mcaid(BuildQueries.CohortP, claims = true, Some("q193_mcaid_claims_simple")),
    Elig(EligParams(fromDate = "2024-01-05", toDate = "2024-01-25",
      covMinPct = Some(20.0), covgapMaxDays = Some(10)), Some("q49_claims_elig")),
    Tab(Seq("o_orderpriority", "o_year"), Some("q18_tabloop")),
    Suppress(1, 5, Some("q19_suppress")),
    Top(1996, 10, Some("q62_top_causes")))

  private def mcaidParams(): CohortParams = {
    val y = 1995 + rng.nextInt(6)
    val (from, to) = pick(Seq(("01-01", "12-31"), ("01-01", "06-30"), ("07-01", "12-31")))
    val (ageMin, ageMax) = pick(Seq((0, 200), (1, 64), (18, 44)))
    CohortParams(fromDate = s"$y-$from", toDate = s"$y-$to",
      covMin = pick(Seq(0.0, 2.0, 10.0)), ccovMin = pick(Seq(1, 3)),
      covgapMax = pick(Seq(None, Some(90), Some(360))), dualMax = pick(Seq(95.0, 100.0)),
      ageMin = ageMin, ageMax = ageMax,
      maxlang = subset(Seq("ENGLISH", "SPANISH", "RUSSIAN", "CHINESE", "VIETNAMESE", "SOMALI")),
      zip = subset((98001 to 98005).map(_.toString)),
      region = subset(Seq("Region 0", "Region 1", "Region 2")))
  }

  private def seededElig(): Req = {
    val from = 1 + rng.nextInt(14)
    Elig(EligParams(fromDate = f"2024-01-$from%02d",
      toDate = f"2024-01-${math.min(30, from + 7 + rng.nextInt(14))}%02d",
      covMinPct = pick(Seq(None, Some(20.0), Some(50.0))),
      covgapMaxDays = pick(Seq(None, Some(5), Some(10)))), None)
  }

  def op(): Seq[Result] = {
    val mcaid = Mcaid(mcaidParams(), claims = true, None)
    val top = Top(1995 + rng.nextInt(7), pick(Seq(3, 5, 10)), None)
    (catalogReqs ++ Seq(mcaid, seededElig(), top, top)).map(_.run())
  }
}
