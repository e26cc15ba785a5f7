package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit, sum}

/** Runs one workload plan against the program's query registry and
  * records what happened; `perfbench/run.py` writes the plan, starts this
  * JVM, checks the results against the oracle and computes the metrics.
  *
  * Plan file lines: `warmup q…`, `pass q…` (one per timed pass, in the
  * seed's order; an untraced run times as many as fit in `--seconds`)
  * and `verify q…`.
  *
  * Per query the three phases are the registry call (build), the
  * physical plan (plan) and the noop write of every output column
  * (execute). Between queries, outside the query span, cached frames are
  * dropped and the JVM is asked to collect, so one query's leftovers do
  * not bill the next.
  */
object Main {
  /** Repetitions of each direct layer call in a traced run. */
  val LayerReps = 2

  /** Fewest timed passes in an untraced run, however long they take. */
  val MinPasses = 2

  final case class Plan(warmup: Seq[String], passes: Seq[Seq[String]],
      verify: Seq[String])

  def readPlan(f: File): Plan = {
    val lines = Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
      .map(_.trim.split("\\s+").toSeq).filter(_.nonEmpty).toSeq
    def all(tag: String) = lines.filter(_.head == tag).map(_.tail)
    Plan(all("warmup").flatten, all("pass"), all("verify").flatten)
  }

  /** The session every run uses; `run.py` echoes these settings in the
    * run header. */
  def session(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = readPlan(new File(opt("plan")))
    val out = new File(opt("out"))
    val fixtures = opt("fixtures")
    val cpus = opt("cpus").toInt
    val traced = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val launchEpochMs = opt("launch-ms").toLong
    out.mkdirs()
    val records = new Records(new File(out, "records.jsonl"))
    val registry = graft.SparkEntry.queries
    val rec = new Recorder(traced)
    val runSpan = rec.open("run", "run", 0)
    var spark: SparkSession = null

    def query(name: String, parent: Long): Span = {
      val qs = rec.within(spark, "query", name, parent) { qs =>
        qs.attrs("ok") = try {
          val df = rec.within(spark, "build", name, qs.id)(_ =>
            registry(name)(spark, fixtures))
          rec.within(spark, "plan", name, qs.id)(_ => df.queryExecution.executedPlan)
          rec.within(spark, "execute", name, qs.id) { _ =>
            df.write.format("noop").mode("overwrite").save()
          }
          true
        } catch { case e: Throwable =>
          qs.attrs("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
          false
        }
        qs
      }
      // Outside the query span: wait for the listener, then read the
      // final plan of the query's last action.
      if (traced) rec.takeLastPlan(spark).foreach { case (action, sh, bc) =>
        qs.attrs("plan_action") = action
        qs.attrs("plan_exchanges") = sh
        qs.attrs("plan_broadcasts") = bc
      }
      qs
    }

    def pass(kind: String, index: Int, names: Seq[String]): Unit =
      rec.within(spark, "pass", s"$kind-$index", runSpan.id) { ps =>
        ps.attrs("pass") = kind
        names.foreach { n =>
          if (kind == "timed") reference(index)
          val qs = query(n, ps.id)
          spark.catalog.clearCache()
          System.gc()
          qs.attrs("retained_mb") = Recorder.storageMb(spark.sparkContext)
        }
      }

    // A fixed Spark job that runs no program code, timed before each query
    // of a timed pass and after the last: how fast the shared host ran
    // Spark work just before and just after each query, to scale its
    // time by.
    def reference(index: Int): Unit =
      rec.within(spark, "reference", s"reference-$index", runSpan.id) { _ =>
        spark.read.parquet(s"$fixtures/lineitem.parquet")
          .groupBy("l_suppkey").agg(sum("l_extendedprice"), count(lit(1)))
          .write.format("noop").mode("overwrite").save()
      }

    try {
      // Set-up: from the process launch to the end of the warm-up pass
      // (JVM and session start, code generation, first-pass shared
      // builds). The launch time comes from the runner, so JVM start
      // counts too.
      spark = session(cpus, out)
      rec.attach(spark)
      pass("warmup", 1, plan.warmup)
      records.write("kind" -> "setup",
        "s" -> (System.currentTimeMillis() - launchEpochMs) / 1e3)
      val conf = Seq("spark.master", "spark.sql.shuffle.partitions",
        "spark.sql.session.timeZone", "spark.rdd.compress", "spark.ui.enabled",
        "spark.sql.adaptive.enabled")
      records.write("kind" -> "env", "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "conf" -> conf.map(k => k -> spark.conf.get(k)).toMap)

      // Correctness pass, untimed: every query's full result as one
      // parquet file. Run before the timed passes, it is also a second
      // pass over warm code, so the first timed pass is not the one the
      // JIT is still settling in.
      val results = new File(out, "results")
      rec.within(spark, "verify", "verify", runSpan.id) { _ =>
        plan.verify.foreach { name =>
          val err = try {
            registry(name)(spark, fixtures).coalesce(1).write.mode("overwrite")
              .parquet(new File(results, name).getAbsolutePath)
            None
          } catch { case e: Throwable =>
            Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
          }
          records.write("kind" -> "verify", "q" -> name, "error" -> err,
            "sql" -> graft.SparkEntry.oracleSql.get(name))
          spark.catalog.clearCache()
        }
      }

      // One more untimed pass like the timed ones: the JIT is still
      // compiling hot paths after the warm-up and correctness passes,
      // and the first timed pass would otherwise pay for it.
      pass("settle", 1, plan.warmup)

      if (traced) {
        // Untraced and traced passes alternate over the same orders, so
        // the two walls give the tracing overhead.
        for (i <- 0 until (plan.passes.size + 1) / 2) {
          rec.detach(spark)
          pass("untraced", i + 1, plan.passes(i))
          rec.attach(spark)
          pass("traced", i + 1, plan.passes(i))
        }
        rec.within(spark, "layers", "layers", runSpan.id) { ls =>
          Layers.run(spark, rec, fixtures, ls.id, LayerReps)
        }
      } else {
        // Timed passes until `seconds` have gone by (at least MinPasses),
        // so a slow spell on the host costs the run no more time.
        reference(0); reference(0)  // the reference job's own warm-up
        val t0 = System.nanoTime()
        var done = 0
        while (done < plan.passes.size &&
            (done < MinPasses || System.nanoTime() - t0 < seconds * 1e9)) {
          pass("timed", done + 1, plan.passes(done))
          done += 1
        }
        reference(done + 1)  // the one after the last query
      }

      // Storage still held once caches are dropped and the cleaner ran.
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(200)
      records.write("kind" -> "retained",
        "mb" -> Recorder.storageMb(spark.sparkContext))
      rec.close(runSpan)
      rec.drain(spark)
      val t = new Records(new File(out, "trace.jsonl"))
      rec.write(t)
      t.close()
    } finally {
      records.close()
      if (spark != null) spark.stop()
    }
  }
}
