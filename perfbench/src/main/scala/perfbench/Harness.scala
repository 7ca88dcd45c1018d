package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's timed loop inside the JVM. It times each query of a
  * workload as the engine's user sees it: build the DataFrame
  * (`SparkEntry.queries(name)`), plan it (`queryExecution.executedPlan`),
  * then run it with `collect()`.
  * One client thread sends the queries in a closed loop.
  *
  *   - set-up starts the session and, if `warmup` names a directory, runs a
  *     word count over it;
  *   - pass 0 runs every query once in list order: the first execution in a
  *     fresh session, so it pays any session-artifact build. Without a
  *     `warmup` directory pass 0 is the warm-up and counts as set-up;
  *   - `passes` loop passes repeat the workload, each in a seeded order.
  *
  * With tracing on, odd loop passes (and pass 0) run with [[Tracer]]
  * attached and even ones without, so the trace measures its own overhead.
  * Everything is written to `out`; `run.py` turns it into metrics and checks
  * every result against its DuckDB twin.
  *
  * Arguments are `key=value`: data, warmup, queries (comma list), passes,
  * trace (0|1), seed, cores, out, launchNs (epoch ns at JVM launch).
  */
object Harness {
  final case class Exec(pass: Int, idx: Int, query: String, traced: Boolean,
                        startNs: Long, constructNs: Long, planNs: Long, collectNs: Long,
                        rows: Long, digest: String, err: String,
                        phases: Seq[(String, Long, Long)], codegenStages: Int, graftNodes: Int)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val queries = a("queries").split(",").toSeq
    val passes = a("passes").toInt
    val trace = a("trace") == "1"
    val seed = a("seed").toLong
    val cores = a("cores").toInt
    val out = Paths.get(a("out"))
    val dataDir = a("data")
    Files.createDirectories(out)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    if (a("warmup").nonEmpty)
      try graft.SparkEntry.queries("wordcount")(spark, a("warmup")).collect()
      catch { case NonFatal(e) => System.err.println(s"warm-up failed: $e") }
    var setupS = (Clock.epochNs() - a("launchNs").toLong) / 1e9

    val tracer = new Tracer
    val execs = mutable.ArrayBuffer.empty[Exec]
    val results = mutable.LinkedHashMap.empty[(String, String), (Array[Row], org.apache.spark.sql.types.StructType)]

    def runOne(pass: Int, idx: Int, name: String, traced: Boolean): Unit = {
      val id = s"$pass.$idx"
      sc.setLocalProperty(Tracer.ExecKey, id)
      sc.setLocalProperty(Tracer.PhaseKey, "construct")
      val start = Clock.epochNs()
      val t0 = System.nanoTime()
      var (t1, t2, t3) = (t0, t0, t0)
      var df: DataFrame = null
      var rows: Array[Row] = Array.empty
      var err: String = null
      try {
        df = graft.SparkEntry.queries(name)(spark, dataDir)
        t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.PhaseKey, "plan")
        df.queryExecution.executedPlan
        t2 = System.nanoTime()
        sc.setLocalProperty(Tracer.PhaseKey, "collect")
        rows = df.collect()
        t3 = System.nanoTime()
      } catch {
        case NonFatal(e) =>
          err = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)
          t3 = System.nanoTime()
      } finally {
        sc.setLocalProperty(Tracer.ExecKey, null)
        sc.setLocalProperty(Tracer.PhaseKey, null)
      }
      val digest = if (err == null) Digest.of(rows) else null
      if (digest != null && !results.contains((name, digest)))
        results((name, digest)) = (rows, df.schema)
      val (phases, codegen, graftNodes) =
        if (traced && err == null) Tracer.inspect(df) else (Seq.empty, 0, 0)
      execs += Exec(pass, idx, name, traced, start, t1 - t0, t2 - t1, t3 - t2,
        rows.length.toLong, digest, err, phases, codegen, graftNodes)
    }

    def runPass(pass: Int, traced: Boolean): Unit = {
      if (traced) tracer.attach(spark) else tracer.detach(spark)
      val order =
        if (pass == 0) queries else new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      order.zipWithIndex.foreach { case (q, i) => runOne(pass, i, q, traced) }
      System.gc()
    }

    runPass(0, trace)
    if (a("warmup").isEmpty) setupS = (Clock.epochNs() - a("launchNs").toLong) / 1e9
    val loopStart = System.nanoTime()
    for (pass <- 1 to passes) runPass(pass, trace && pass % 2 == 1)
    val loopS = (System.nanoTime() - loopStart) / 1e9
    tracer.detach(spark)

    // Spark's context cleaner frees broadcast and shuffle state only after a
    // collection finds it unreachable, so collect until the heap holds still
    val memory = java.lang.management.ManagementFactory.getMemoryMXBean
    var heapMb = Double.MaxValue
    var settled = false
    var rounds = 0
    while (!settled && rounds < 10) {
      System.gc()
      Thread.sleep(300)
      val now = memory.getHeapMemoryUsage.getUsed / 1048576.0
      settled = math.abs(heapMb - now) < 1.0
      heapMb = now
      rounds += 1
    }
    val memoDiskBytes = Files.walk(Paths.get(System.getProperty("java.io.tmpdir")))
      .filter(Files.isRegularFile(_)).mapToLong(p => p.toFile.length).sum()

    // one parquet dump per distinct result, written concurrently after all timing
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val dumps = results.toSeq.map { case ((q, d), (rows, schema)) =>
      val dir = out.resolve("dumps").resolve(q).resolve(d).toString
      (q, d, dir, pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(dir)
      }))
    }.map { case (q, d, dir, f) => f.get(); (q, d, dir) }
    pool.shutdown()

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val execJson = execs.map { e =>
      val ph = e.phases.map { case (n, s, t) => s"""[${Json.str(n)},$s,$t]""" }.mkString("[", ",", "]")
      s"""{"pass":${e.pass},"idx":${e.idx},"query":${Json.str(e.query)},"traced":${e.traced},""" +
        s""""start_ns":${e.startNs},"construct_ns":${e.constructNs},"plan_ns":${e.planNs},""" +
        s""""collect_ns":${e.collectNs},"rows":${e.rows},"digest":${Json.str(e.digest)},""" +
        s""""err":${Json.str(e.err)},"phases":$ph,"codegen_stages":${e.codegenStages},""" +
        s""""graft_nodes":${e.graftNodes}}"""
    }.mkString("[", ",\n", "]")
    val dumpJson = dumps.map { case (q, d, p) =>
      s"""{"query":${Json.str(q)},"digest":${Json.str(d)},"path":${Json.str(p)}}"""
    }.mkString("[", ",", "]")
    val doc = s"""{"setup_s":$setupS,"loop_s":$loopS,"heap_used_mb":$heapMb,""" +
      s""""memo_disk_bytes":$memoDiskBytes,"cores":$cores,""" +
      s""""jvm":${Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version"))},""" +
      s""""spark":${Json.str(spark.version)},"scala":${Json.str(scala.util.Properties.versionNumberString)},""" +
      s""""conf":$conf,"dumps":$dumpJson,"execs":$execJson}"""
    Files.write(out.resolve("run.json"), doc.getBytes(UTF_8))
    val oracle = queries.distinct.flatMap { q =>
      graft.SparkEntry.oracleSql.get(q).map(sql => s"${Json.str(q)}:${Json.str(sql)}")
    }.mkString("{", ",", "}")
    Files.write(out.resolve("oracle_sql.json"), oracle.getBytes(UTF_8))
    if (trace) tracer.write(out.resolve("spans.jsonl"))
    spark.stop()
  }
}

/** Epoch nanoseconds with `nanoTime` resolution, comparable to the epoch
  * milliseconds Spark stamps on jobs, stages and tasks. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochNs(): Long = base + System.nanoTime()
}

object Digest {
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.toString.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
