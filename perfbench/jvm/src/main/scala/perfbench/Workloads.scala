package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.operators.{Components, Dedup, DeterministicStub, MatchStrategy,
  Sampling}
import graft.pipeline.Pipeline

/** State of one workload run: op timings, failures and layer facts. */
final class Run(val spark: SparkSession, val tr: Tracer, val traced: Boolean,
    val in: String, val out: String) {
  val opSeconds = ArrayBuffer.empty[Double]
  val failures = mutable.LinkedHashMap.empty[String, String]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0

  def fail(label: String, e: Throwable): Unit = {
    failures.getOrElseUpdate(label, s"${e.getClass.getSimpleName}: ${
      Option(e.getMessage).getOrElse("").take(300)}")
    ()
  }

  /** One attempted operation; a thrown exception fails only this op. */
  def attempt(label: String, spanName: String)(f: => Unit): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    try tr.span(spanName)(f)
    catch { case e: Exception => fail(label, e) }
    (System.nanoTime() - t0) / 1e9
  }

  /** An attempted operation whose time is an op sample. */
  def op(label: String, spanName: String)(f: => Unit): Unit = {
    opSeconds += attempt(label, spanName)(f)
  }

  def count(key: String, n: Long): Unit =
    info(key) = info.getOrElse(key, 0L).asInstanceOf[Long] + n

  /** Untimed correctness check; a failure marks the op it names. */
  def check(label: String)(f: => Unit): Unit =
    try f catch { case e: Exception => fail(label, e) }
}

/** The adjudication stub with call and accept counters (traced runs). */
final class CountingStub extends MatchStrategy {
  private val inner = new DeterministicStub()
  override def adjudicate(leftName: String,
      candidates: Seq[(String, String)]): Option[String] = {
    CountingStub.calls.incrementAndGet()
    val pick = inner.adjudicate(leftName, candidates)
    if (pick.isDefined) CountingStub.accepts.incrementAndGet()
    pick
  }
}

object CountingStub {
  val calls = new AtomicLong()
  val accepts = new AtomicLong()
}

object Workloads {

  /** The paper's path: each shard's stg frames through
    * `Pipeline.run(enableLlm = true)`, the dwh result landed as parquet.
    *
    * The traced run materializes the cleaned frames on their own (cached,
    * then released) so cleaning and matching get separate spans. */
  def erPipeline(r: Run, shards: Int): Unit = {
    val spark = r.spark
    val cfg = Pipeline.Config(enableLlm = true,
      llmStrategy = if (r.traced) new CountingStub else new DeterministicStub())
    (0 until shards).foreach { k =>
      r.op(s"shard_$k", "er.shard") {
        val abr = spark.read.parquet(s"${r.in}/abr_$k.parquet")
        val crawl = spark.read.parquet(s"${r.in}/crawl_$k.parquet")
        val dest = s"${r.out}/er_$k"
        if (!r.traced) Pipeline.run(spark, abr, crawl, cfg).write.parquet(dest)
        else {
          val (ca, cc) = r.tr.span("pipeline.clean") {
            val a = Pipeline.cleanAbr(abr).cache()
            val c = Pipeline.cleanCrawl(crawl).cache()
            a.write.format("noop").mode("overwrite").save()
            c.write.format("noop").mode("overwrite").save()
            (a, c)
          }
          r.tr.span("pipeline.match") {
            val (m, obs) = Pipeline.withMatchMetrics(
              Pipeline.matchEntities(spark, cc, ca, cfg))
            m.write.parquet(dest)
            val got = obs.get
            Seq("n_rule", "n_fuzzy", "n_llm").foreach { k =>
              r.count(k, got(k).asInstanceOf[Long])
            }
          }
          ca.unpersist(true)
          cc.unpersist(true)
        }
      }
    }
    if (r.traced) {
      r.info("strategy_calls") = CountingStub.calls.get
      r.info("strategy_accepts") = CountingStub.accepts.get
    }
  }

  /** One sequential cold pass over a recorded sample of the catalog: each
    * query built by its `SparkEntry.queries` builder and landed as one
    * parquet file, with its oracle SQL written beside the results. */
  def catalog(r: Run, names: Seq[String]): Unit = {
    val builders = SparkEntry.queries
    names.foreach { name =>
      r.op(name, "catalog.query") {
        val fn = builders.getOrElse(name,
          throw new NoSuchElementException(s"no query named $name"))
        val df = r.tr.span("SparkEntry.build")(fn(r.spark, r.in))
        r.tr.span("sink.land") {
          df.coalesce(1).write.parquet(s"${r.out}/$name")
        }
      }
    }
    val oracle = SparkEntry.oracleSql
    Json.writeFile(s"${r.out}/oracle_sql.json",
      names.flatMap(n => oracle.get(n).map(n -> _)).toMap)
  }

  /** A bulk build (LSH pairs → components → leakage-safe split) on the
    * history corpus, then a closed loop of ingest waves: each wave is
    * screened against the prepared index (read) and its survivors are
    * absorbed into the index (write). */
  def dedupIngest(r: Run, waves: Int): (DataFrame, Seq[DataFrame]) = {
    val spark = r.spark
    val hist = spark.read.parquet(s"${r.in}/history.parquet")
    var pairs: DataFrame = null
    r.attempt("bulk", "dedup.bulk") {
      pairs = r.tr.span("Dedup.lsh") {
        val p = Dedup.minhashLsh(hist, "text", "doc_id",
          jaccardThreshold = 0.5).localCheckpoint(true)
        r.info("pairs") = p.count()
        p
      }
      r.tr.span("Components.resolve") {
        Components.dedupAssignments(hist, "doc_id", pairs, "id_a", "id_b")
          .write.parquet(s"${r.out}/assignments")
      }
      r.tr.span("Sampling.split") {
        Sampling.leakageSafeSplit(hist, "doc_id", pairs, "id_a", "id_b")
          .write.parquet(s"${r.out}/split")
      }
    }
    var prepared: Dedup.PreparedCorpus = null
    r.attempt("prepare", "Dedup.prepare") {
      prepared = Dedup.prepareCorpus(hist, "text", "doc_id")
    }
    val novel = ArrayBuffer.empty[DataFrame]
    (0 until waves).foreach { w =>
      r.op(s"wave_$w", "dedup.wave") {
        val wave = spark.read.parquet(s"${r.in}/wave_$w.parquet")
        val kept = r.tr.span("Dedup.screen") {
          val k = Dedup.incrementalDedupPrepared(wave, prepared, "text",
            "doc_id", jaccardThreshold = 0.5).localCheckpoint(true)
          r.count("novel", k.count())
          k
        }
        prepared = r.tr.span("Dedup.absorb") {
          Dedup.checkpointCorpusIndex(
            Dedup.updateCorpusIndex(prepared, kept, "text", "doc_id"))
        }
        novel += kept
      }
    }
    (pairs, novel.toSeq)
  }

  /** Untimed dedup checks the JVM has to make: the prepared probe of the
    * last wave equals a one-shot `incrementalDedup` against the history
    * plus every earlier wave's survivors, so every absorb before it is
    * covered; the LSH pairs are landed for the split check made beside
    * the run. */
  def dedupChecks(r: Run, waves: Int, pairs: DataFrame,
      novel: Seq[DataFrame]): Unit = {
    val spark = r.spark
    if (pairs != null) r.check("bulk") {
      pairs.select("id_a", "id_b").write.parquet(s"${r.out}/pairs")
    }
    val hist = spark.read.parquet(s"${r.in}/history.parquet")
    if (novel.size == waves) {
      val w = waves - 1
      r.check(s"wave_$w") {
        val wave = spark.read.parquet(s"${r.in}/wave_$w.parquet")
        val corpus = (hist +: novel.take(w).map(_.select("doc_id", "text")))
          .reduce(_.unionByName(_))
        def ids(df: DataFrame): Set[Long] =
          df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
        val oneShot = ids(Dedup.incrementalDedup(wave, corpus, "text",
          "doc_id", jaccardThreshold = 0.5))
        val probed = ids(novel(w))
        require(oneShot == probed, s"prepared probe kept ${probed.size} " +
          s"docs, one-shot incrementalDedup kept ${oneShot.size}")
      }
    }
  }
}
