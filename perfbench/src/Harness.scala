package perfbench

import graft.{Engine, SparkEntry}
import graft.operators.MatrixOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run in one fresh JVM: set up the engine's session, run the
  * workload's operations ("ops") one at a time in timed passes, check every
  * op's output once, and write everything measured to `<out>/result.json`.
  *
  * Arguments are `key=value`: workload, seed, warm_passes, setups (session
  * set-ups before the passes), trace (0|1), cores, out (run scratch dir),
  * data (corpus dir; for gemm the staged matrices), gen_n and stored_n
  * (gemm sizes), t0 (epoch ms when the JVM was launched).
  * `perfbench/run.py` builds the classpath, launches this main and turns
  * the result into the benchmark's metrics.
  *
  * Layers are observed only from outside: op timing around public entry
  * points, and (trace=1) a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener. Nothing is added to a measured plan.
  */
object Harness {

  /** An op builds its result frame; the harness times it to a `noop` sink. */
  case class Op(name: String, build: SparkSession => DataFrame)

  /** What one op needs for its output check. */
  sealed trait Check
  /** Output of declared query `via` on `dir`, compared by the runner
    * against `SparkEntry.oracleSql(name)` in DuckDB.
    */
  case class Oracle(name: String, via: String, dir: String) extends Check
  /** Freivalds' test of C = A·B for seeded n×n inputs. */
  case class Freivalds(n: Int, a: SparkSession => DataFrame,
                       b: SparkSession => DataFrame) extends Check

  trait Workload {
    def ops: Seq[Op]
    def checks: Map[String, Check]
  }

  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Untimed warm-up after each session set-up: one small job. The ops'
    * own JIT and codegen costs are left to the cold pass.
    */
  def warmup(spark: SparkSession): Unit = sink(spark.range(1000).select(sum("id")))

  // ---------------------------------------------------------------- gemm

  /** Seeded dense n×n COO matrix, integers 0–99 (the reference's
    * distribution), generated inside the plan. `side` separates A from B.
    */
  def seededMatrix(spark: SparkSession, n: Int, seed: Long, side: Int): DataFrame = {
    val i = spark.range(n).select(col("id").as("i"))
    val j = spark.range(n).select(col("id").as("j"))
    i.crossJoin(j).select(col("i"), col("j"),
      pmod(xxhash64(lit(seed), lit(side), col("i"), col("j")), lit(100L)).as("v"))
  }

  /** `stored` holds A/ and B/: seeded storedN×storedN Parquet matrices the
    * runner writes before the JVM starts.
    */
  class Gemm(seed: Long, stored: String, genN: Int, storedN: Int) extends Workload {
    private def gen(s: SparkSession, side: Int) = seededMatrix(s, genN, seed, side)
    private def load(s: SparkSession, side: String) = s.read.parquet(s"$stored/$side")
    val ops = Seq(
      Op(s"gen$genN", s => MatrixOps.multiplyPlanned(gen(s, 1), gen(s, 2))),
      Op(s"stored$storedN", s => MatrixOps.multiplyPlanned(load(s, "A"), load(s, "B"))))
    val checks: Map[String, Check] = Map(
      ops(0).name -> Freivalds(genN, gen(_, 1), gen(_, 2)),
      ops(1).name -> Freivalds(storedN, load(_, "A"), load(_, "B")))
  }

  // ------------------------------------------------- corpus workloads

  /** Ops that are declared queries of `SparkEntry`, run on corpus `dir`.
    * `checkVia` names, per op, a declared query that reads the op's last
    * output back without recomputing it; the check writes that instead.
    */
  class Corpus(names: Seq[String], dir: String,
               checkVia: Map[String, String] = Map.empty) extends Workload {
    private val all = SparkEntry.queries
    names.foreach(n => require(all.contains(n), s"unknown query $n"))
    val ops = names.map(n => Op(n, s => all(n)(s, dir)))
    val checks: Map[String, Check] =
      names.map(n => n -> (Oracle(n, checkVia.getOrElse(n, n), dir): Check)).toMap
  }

  // ---------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val p = a.split("=", 2); p(0) -> p(1) }.toMap
    val t0Ms = kv("t0").toLong
    val workloadName = kv("workload")
    val seed = kv("seed").toLong
    val warmPasses = kv("warm_passes").toInt
    val setupCount = kv("setups").toInt
    val traced = kv("trace") == "1"
    val cores = kv("cores").toInt
    val out = kv("out")
    val data = kv("data")
    val work = s"$out/work"
    Files.createDirectories(Paths.get(work))

    val workload: Workload = workloadName match {
      case "gemm" => new Gemm(seed, data, kv("gen_n").toInt, kv("stored_n").toInt)
      // l64 rebuilds the match-graph artifact and returns its pairs read
      // back; l2_near_dup reads the same artifact, so its output is the last
      // timed rebuild's, checked without another rebuild.
      case "dedup_stream" =>
        new Corpus(Seq("l64_match_artifact", "s3_session_stream"), data,
                   Map("l64_match_artifact" -> "l2_near_dup"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    def build(): SparkSession = {
      val s = Engine.configure(SparkSession.builder()
        .master(s"local[$cores]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // Set-up, `setups` times: the first from JVM launch, each later one
    // stops the session and creates it again in the warm JVM (the stop is
    // not timed). The runner reports the median.
    val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    var overrides: Seq[(String, String)] = Nil
    for (k <- 0 until setupCount) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val launchLag = if (k == 0) (System.currentTimeMillis() - t0Ms) / 1e3 else 0.0
      val s0 = System.nanoTime()
      spark = build()
      overrides = Engine.applyConfOverrides(spark)
      val s1 = System.nanoTime()
      warmup(spark)
      val w1 = System.nanoTime()
      setups += Map("setup_s" -> (launchLag + (w1 - s0) / 1e9),
        "session_s" -> (s1 - s0) / 1e9, "warmup_s" -> (w1 - s1) / 1e9)
    }

    // Seconds since JVM launch at the end of each run phase.
    def sinceLaunch = (System.currentTimeMillis() - t0Ms) / 1e3
    val timeline = mutable.LinkedHashMap("setup" -> sinceLaunch)
    val tracer = if (traced) Some(new Tracer(spark)) else None

    // Timed passes: pass 0 is cold, then a fixed number of warm passes.
    case class OpRun(pass: Int, name: String, startMs: Long, endMs: Long,
                     secs: Double, error: Option[String])
    val runs = mutable.ArrayBuffer.empty[OpRun]
    val passSecs = mutable.ArrayBuffer.empty[Double]
    val gemmDecisions = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    for (pass <- 0 to warmPasses) {
      val p0 = System.nanoTime()
      workload.ops.foreach { op =>
        val startMs = System.currentTimeMillis()
        val o0 = System.nanoTime()
        val err =
          try { sink(op.build(spark)); None }
          catch { case e: Throwable => Some(errString(e)) }
        val secs = (System.nanoTime() - o0) / 1e9
        runs += OpRun(pass, op.name, startMs, System.currentTimeMillis(), secs, err)
      }
      passSecs += (System.nanoTime() - p0) / 1e9
      System.err.println(f"[perfbench] pass $pass ${passSecs.last}%.3f s")
    }

    // Output checks, once, outside the timed passes.
    timeline("passes") = sinceLaunch
    val checkDir = s"$out/check"
    val checkResults = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    workload.ops.foreach { op =>
      workload.checks(op.name) match {
        case Oracle(q, via, dir) =>
          val r = try {
            SparkEntry.queries(via)(spark, dir).coalesce(1)
              .write.mode("overwrite").parquet(s"$checkDir/$q")
            Map[String, Any]("kind" -> "oracle", "written" -> true)
          } catch { case e: Throwable =>
            Map[String, Any]("kind" -> "oracle", "written" -> false, "error" -> errString(e))
          }
          checkResults(op.name) = r
        case Freivalds(n, a, b) =>
          checkResults(op.name) =
            try {
              val (lhs, rhs) = freivalds(spark, op.build(spark), a(spark), b(spark), seed)
              Map("kind" -> "freivalds", "ok" -> (lhs == rhs), "lhs" -> lhs, "rhs" -> rhs)
            } catch { case e: Throwable =>
              Map("kind" -> "freivalds", "ok" -> false, "error" -> errString(e))
            }
          gemmDecisions(op.name) = gemmDecision(spark, op.build(spark), n)
      }
    }
    val oracles = SparkEntry.oracleSql
    val oracleJson = checkResults.collect { case (n, m) if m("kind") == "oracle" =>
      n -> oracles.getOrElse(n, "") }
    Files.createDirectories(Paths.get(checkDir))
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json(oracleJson.toMap))

    val versions = Map(
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    timeline("checks") = sinceLaunch
    spark.stop() // drains the listener bus, so the tracer has every event
    timeline("stop") = sinceLaunch
    val rssMb = vmHwmMb()

    val opJson = runs.map { r =>
      Map[String, Any]("pass" -> r.pass, "op" -> r.name, "start_ms" -> r.startMs,
        "end_ms" -> r.endMs, "secs" -> r.secs) ++ r.error.map("error" -> _)
    }
    val traceJson: Map[String, Any] = tracer.fold(Map.empty[String, Any]) { t =>
      val windows = runs.toSeq.map(r => Window(r.pass, r.name, r.startMs, r.endMs))
      t.summarize(windows, cores)
    }
    val result = Map[String, Any](
      "workload" -> workloadName, "seed" -> seed, "cores" -> cores,
      "traced" -> traced, "versions" -> versions,
      "conf_overrides" -> overrides.map { case (k, v) => s"$k=$v" },
      "setups" -> setups,
      "passes" -> passSecs, "ops" -> opJson, "checks" -> checkResults,
      "gemm_decisions" -> gemmDecisions, "peak_rss_mb" -> rssMb,
      "timeline_s" -> timeline, "trace" -> traceJson)
    Files.writeString(Paths.get(s"$out/result.json"), Json(result))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def errString(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(6).toVector
    chain.map(_.toString.linesIterator.nextOption().getOrElse("").take(300))
      .mkString(" CAUSED-BY: ").take(1200)
  }

  /** Peak resident set (VmHWM) of this process in MB; -1 when unreadable. */
  def vmHwmMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case _: Throwable => -1.0 }

  /** Freivalds' test modulo the prime p = 2^31 − 1 with seeded vectors u, v:
    * returns (uᵀ·C·v, (uᵀA)·(Bv)), which are equal when C = A·B and differ
    * with probability ≥ 1 − 1/p otherwise. O(n²) work; every product of two
    * residues fits a LONG.
    */
  def freivalds(spark: SparkSession, c: DataFrame, a: DataFrame, b: DataFrame,
                seed: Long): (Long, Long) = {
    val p = lit(2147483647L)
    def vec(idx: String, side: Int) =
      pmod(xxhash64(lit(seed), lit(100 + side), col(idx)), p)
    val lhs = c.select(
      pmod(pmod(vec("i", 1) * vec("k", 2), p) * pmod(col("v"), p), p).as("t"))
      .agg(sum("t")).head().getLong(0)
    val ua = a.groupBy("j").agg(pmod(sum(vec("i", 1) * col("v")), p).as("w"))
    val bv = b.select(col("i").as("j"), (vec("j", 2) * col("v")).as("t"))
      .groupBy("j").agg(pmod(sum("t"), p).as("x"))
    val rhs = ua.join(bv, "j").select(pmod(col("w") * col("x"), p).as("t"))
      .agg(sum("t")).head().getLong(0)
    (java.lang.Math.floorMod(lhs, 2147483647L), java.lang.Math.floorMod(rhs, 2147483647L))
  }

  /** Route, tile width and replication the planner picks for a gemm op.
    * Read through `graft.plans.MatMulStrategy`'s public decision hooks by
    * reflection, so the benchmark still builds when those hooks change (the
    * decision is then reported unavailable). Plans only; executes nothing.
    */
  def gemmDecision(spark: SparkSession, df: DataFrame, n: Int): Map[String, Any] =
    try {
      val cls = Class.forName("graft.plans.MatMulStrategy$")
      val mod = cls.getField("MODULE$").get(null)
      def call(name: String, args: AnyRef*): AnyRef =
        cls.getMethods.find(_.getName == name).get.invoke(mod, args: _*)
      call("lastDerived_$eq", None)
      df.queryExecution.sparkPlan
      call("lastDerived").asInstanceOf[Option[Product]] match {
        case None => Map("route" -> "row-join", "n" -> n, "bs" -> 0, "R" -> 0)
        case Some(d) =>
          val bs = d.productElement(2).asInstanceOf[Int]
          val mm = df.queryExecution.analyzed.collectFirst {
            case m if m.getClass.getName == "graft.plans.MatMul" => m
          }.get
          val r = call("deriveReplication", mm.children(0), mm.children(1),
            Int.box(bs), Int.box(spark.sparkContext.defaultParallelism),
            call("replicationHeadroom", spark)).asInstanceOf[Int]
          Map("route" -> "block", "n" -> n, "bs" -> bs, "R" -> r)
      }
    } catch { case e: Throwable =>
      Map("route" -> "unavailable", "n" -> n, "error" -> errString(e))
    }
}
