package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Validate
import graft.pipeline.Pipeline
import graft.sources.Sinks

/** The complete reference pipeline in one call — raw noisy stg frames →
  * cleaning/standardization → match cascade → dwh schema → partitioned
  * sink (what run_pipeline.py promised, SURVEY.md §3.4), with quality
  * gates on the way in. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("raw stg → cleaned → cascade → sink, end to end") {
    import spark.implicits._
    // deliberately messy staging data: spaced ABNs, punctuated names,
    // alias states, dirty postcodes
    val stgAbr = Seq(
      ("51 824 753 556", "HARBOUR-MINING group (pty) ltd", "Company",
        "new south wales", " 20-00 "),
      ("53 004 085 616", "WATTLE & CO", "Company", "VIC", "3001"))
      .toDF("abn", "entity_name", "entity_type", "state", "postcode")
    val stgCrawl = Seq(
      ("harbourmining.com.au", "Harbour Mining Group Pty. Ltd.",
        "51-824-753-556", "2000"),     // rule match via cleaned ABN
      ("wattleco.com.au", "wattle & co!!", null, "3001"))  // fuzzy match
      .toDF("domain", "company_name", "abn", "postcode")

    val out = Pipeline.run(spark, stgAbr, stgCrawl)
    val rows = out.collect().map(r =>
      r.getAs[String]("crawl_domain") -> r).toMap
    assert(rows.size == 2)

    val rule = rows("harbourmining.com.au")
    assert(rule.getAs[String]("match_method") == "rule_based_abn")
    assert(rule.getAs[String]("abr_abn") == "51824753556")
    assert(rule.getAs[String]("abr_company_name") == "Harbour Mining Group Pty Ltd")
    assert(rule.getAs[String]("abr_state") == "NSW")   // alias standardized
    assert(rule.getAs[String]("abr_postcode") == "2000") // digits cleaned

    val fuzzy = rows("wattleco.com.au")
    assert(fuzzy.getAs[String]("match_method") == "fuzzy")
    assert(fuzzy.getAs[String]("abr_abn") == "53004085616")
    assert(fuzzy.getAs[java.math.BigDecimal]("match_score").doubleValue() >= 80.0)

    // quality gates accept the cleaned ABR side
    val checked = Validate.check(
      Pipeline.cleanAbr(stgAbr), Validate.companyRules)
    assert(Validate.valid(checked).count() == 2)

    // observe-metrics ride the write action itself (no extra pass)
    val (observed, obs) = Pipeline.withMatchMetrics(out)
    observed.count()
    val m = obs.get
    assert(m("n_matches") == 2L && m("n_rule") == 1L && m("n_fuzzy") == 1L)
    assert(m("n_llm") == 0L)

    // K4 sink: partitioned by match method, reloadable
    val p = java.nio.file.Files.createTempDirectory("dwh").toString + "/m"
    Sinks.writeMatches(out, p)
    val back = spark.read.parquet(p)
    assert(back.count() == 2)
    assert(back.select("match_method").distinct().count() == 2)
  }

  /** Jobs that `f` starts from this thread. Listener events arrive in
    * order, so once a marker job run after `f` is seen, every job of `f`
    * has been counted. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("pipeline-guard") => jobs.incrementAndGet()
          case Some("pipeline-guard-drain") => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("pipeline-guard", "counted")
      f
      sc.setJobGroup("pipeline-guard-drain", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus not drained")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("one write of the ER pipeline stays within its job budget") {
    val out = java.nio.file.Files.createTempDirectory("dwh").toString + "/m"
    val jobs = jobsOf {
      Pipeline.run(spark, CascadeCorpus.abrDf(spark),
          CascadeCorpus.crawlDf(spark), Pipeline.Config(enableLlm = true))
        .write.parquet(out)
    }
    // 13 measured (local[4], 4 shuffle partitions); the staged cascade,
    // with its rule/fuzzy pins and eager RDD hop, took 23
    assert(jobs > 0 && jobs <= 14, s"$jobs jobs")
  }
}
