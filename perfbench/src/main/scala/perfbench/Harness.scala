package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, TpchGraph}
import graft.cypher.{Compiler, Lexer, Parser}

/** One benchmark query: Cypher text compiled through the engine's own
  * parser and compiler (`mode` "cyx" = extended session, `orderBy` and the
  * build-time `conf` as in SparkEntry), or a named `graft.ops` query. */
final case class BenchQuery(name: String, kind: String, mode: String,
    text: String, orderBy: Seq[String], conf: Map[String, String]) {
  def isCypher: Boolean = kind == "cypher"
}

object BenchQuery {
  def fromPlan(m: Map[String, Any]): BenchQuery = {
    def str(k: String) = m.getOrElse(k, "").toString
    BenchQuery(str("name"), str("kind"), str("mode"), str("text"),
      m.getOrElse("order_by", Seq.empty).asInstanceOf[Seq[Any]].map(_.toString),
      m.getOrElse("conf", Map.empty).asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.toString })
  }
}

/** Runs one workload in one JVM and writes raw measurements as JSON.
  *
  * Usage: `Harness <plan.json>`. The plan names the data directory, the
  * queries, the per-pass query orders, the measuring time and whether to
  * run the traced loop. Order of work:
  *  1. SparkSession start and catalog set-up;
  *  2. a warm-up pass that writes each query's full output as parquet
  *     for the oracle check (untimed, but inside set-up);
  *  3. the timed closed loop: whole passes until the measuring time is
  *     spent, every query built and then materialised through the `noop`
  *     sink, listeners off;
  *  4. with tracing, the same loop again with listeners on, then one
  *     `count()` per query so the count/noop gap stays on record.
  */
object Harness {
  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val plan = Json.read(Files.readString(Paths.get(args(0))))
      .asInstanceOf[Map[String, Any]]
    def num(k: String) = plan(k).asInstanceOf[Number]
    val dataDir = plan("data_dir").toString
    val checkDir = plan("check_dir").toString
    val cores = num("cores").intValue
    val seconds = num("seconds").doubleValue
    val traced = plan("trace") == true
    val queries = plan("queries").asInstanceOf[Seq[Any]]
      .map(q => BenchQuery.fromPlan(q.asInstanceOf[Map[String, Any]])).toVector
    val orders = plan("orders").asInstanceOf[Seq[Seq[Any]]]
      .map(_.map(_.asInstanceOf[Number].intValue).toVector).toVector
    val minPasses = num("min_passes").intValue

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", plan("warehouse_dir").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    TpchGraph.session(spark, dataDir) // registers the graft SQL surface
    val sessionReadyMs = System.currentTimeMillis()

    val sc = spark.sparkContext
    def stamp(exec: String, phase: String): Unit = {
      sc.setLocalProperty(Trace.ExecKey, exec)
      sc.setLocalProperty(Trace.PhaseKey, phase)
    }

    /** Builds `q`, timing each build phase through `timed`. */
    def build(q: BenchQuery, timed: (String, => Any) => Any): DataFrame =
      if (q.isCypher) {
        val base = TpchGraph.session(spark, dataDir)
        val session = if (q.mode == "cyx") base.extended else base
        val saved = q.conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
        q.conf.foreach { case (k, v) => spark.conf.set(k, v) }
        try {
          val ast = timed("parse", Parser.parse(q.text, session.extensions, Map.empty))
          timed("compile", {
            val df = Compiler.compile(ast.asInstanceOf[graft.cypher.ast.Query],
              session.catalog)
            if (q.orderBy.isEmpty) df else df.orderBy(q.orderBy.map(col): _*)
          }).asInstanceOf[DataFrame]
        } finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      } else timed("ops", SparkEntry.queries(q.name)(spark, dataDir))
        .asInstanceOf[DataFrame]

    // ---- warm-up pass: every query's full output, for the oracle check
    val checks = queries.zipWithIndex.map { case (q, i) =>
      stamp(s"check-$i", "check")
      val t0 = now()
      val err = try {
        build(q, (_, body) => body).write.mode("overwrite")
          .parquet(s"$checkDir/${q.name}")
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      err.foreach(m => System.err.println(s"[perfbench] ${q.name} failed: $m"))
      Map("q" -> q.name, "error" -> err, "s" -> secs(t0, now()))
    }
    val setupDoneMs = System.currentTimeMillis()

    // ---- closed loop: one client thread, whole passes
    var execSeq = 0
    val nodes = mutable.Map.empty[String, Int]
    def loop(trace: Option[Trace], passes: Int): Map[String, Any] = {
      val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
      val passWall, passCpu = mutable.ArrayBuffer.empty[Double]
      val cpu0 = cpuNs()
      val t0 = now()
      var pass = 0
      while (pass < orders.size &&
             (pass < passes || secs(t0, now()) < seconds)) {
        val (pc0, pt0) = (cpuNs(), now())
        orders(pass).foreach { i =>
          val q = queries(i)
          execSeq += 1
          val exec = execSeq.toString
          val phases = mutable.LinkedHashMap.empty[String, Double]
          def run(root: Int): Unit = {
            val timed: (String, => Any) => Any = (phase, body) => {
              stamp(exec, phase)
              val s = now()
              try trace.fold(body)(_.phase(root, exec, phase)(body))
              finally phases(phase) = secs(s, now())
            }
            val df = build(q, timed)
            if (trace.isDefined && q.isCypher) {
              var n = 0
              df.queryExecution.analyzed.foreach(_ => n += 1)
              nodes(q.name) = n
            }
            timed("exec", df.write.format("noop").mode("overwrite").save())
          }
          val s = now()
          val err = try {
            trace match {
              case Some(t) => t.query(exec, q.name)(run); t.drain()
              case None => run(-1)
            }
            None
          } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
          err.foreach(m => System.err.println(s"[perfbench] ${q.name} failed: $m"))
          rows += Map("q" -> q.name, "pass" -> pass, "exec" -> exec,
            "total_s" -> secs(s, now()), "phases" -> phases.toMap, "error" -> err)
        }
        passWall += secs(pt0, now())
        passCpu += (cpuNs() - pc0) / 1e9
        pass += 1
      }
      Map("wall_s" -> secs(t0, now()), "cpu_s" -> (cpuNs() - cpu0) / 1e9,
        "pass_wall_s" -> passWall.toSeq, "pass_cpu_s" -> passCpu.toSeq,
        "passes" -> pass, "rows" -> rows.toSeq)
    }

    val timed = loop(None, minPasses)
    val tracedOut = if (!traced) Map.empty[String, Any] else {
      val trace = new Trace(spark)
      trace.start()
      val out = loop(Some(trace), 1)
      trace.stop()
      // one count() per query, so the count/noop sink gap is on record
      val counts = queries.flatMap { q =>
        scala.util.Try {
          val df = build(q, (_, body) => body)
          val s = now()
          df.count()
          q.name -> secs(s, now())
        }.toOption
      }.toMap
      val tokens = queries.filter(_.isCypher)
        .map(q => q.name -> Lexer.tokenize(q.text).size).toMap
      out ++ Map(
        "spans" -> trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "exec" -> s.exec, "query" -> s.query,
          "start_ms" -> s.start, "end_ms" -> s.end)).toSeq,
        "counters" -> trace.counters.toSeq.map { case ((exec, phase), m) =>
          Map("exec" -> exec, "phase" -> phase, "values" -> m.toMap) },
        "count_s" -> counts, "tokens" -> tokens, "logical_nodes" -> nodes.toMap)
    }

    System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val tmpBytes = if (!Files.isDirectory(tmp)) 0L else {
      val w = Files.walk(tmp)
      try w.iterator.asScala.filter(p => Files.isRegularFile(p))
        .map(p => Files.size(p)).sum
      finally w.close()
    }
    val result = Map(
      "cores" -> cores,
      "session_s" -> (sessionReadyMs - jvmStartMs) / 1000.0,
      "setup_s" -> (setupDoneMs - jvmStartMs) / 1000.0,
      "checks" -> checks,
      "oracle_sql" -> queries.flatMap(q =>
        SparkEntry.oracleSql.get(q.name).map(q.name -> _)).toMap,
      "timed" -> timed,
      "traced" -> tracedOut,
      "heap_after_gc_mb" -> heapMb,
      "tmp_bytes_left" -> tmpBytes)
    Files.writeString(Paths.get(plan("result").toString), Json.write(result))
    spark.stop()
  }
}
