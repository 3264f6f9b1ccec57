package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Engine, SocketServer}

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <dir> --root <dir> --commit <id> --build <id>`, plus
  * `--record-reference` to rewrite the operator reference outputs. `data`
  * holds the fixture tables, one directory per scale factor; `root`
  * holds cached reference answers, the run's scratch space and the span
  * files; `build` identifies the compiled sources. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: Path, root: Path, commit: String, build: String, recordReference: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--data")).toAbsolutePath,
      Paths.get(need("--root")).toAbsolutePath,
      kv.getOrElse("--commit", "unknown"), need("--build"), argv.contains("--record-reference"))
  }
}

/** Shared state of one benchmark run: the Spark session, the in-process
  * server, the set-up client and the helpers the workloads use. */
final class Bench(val spark: SparkSession, val args: Args) {
  val largeDir: Path = args.data.resolve("sf0.1")
  val smallDir: Path = args.data.resolve("sf0.01")
  /** Tables the server registers: the large scale, as result size and
    * table size are the point of both workloads. */
  val dataDir: Path = largeDir
  val workDir: Path = args.root.resolve(s"work/${args.workload}-${args.seed}-${ProcessHandle.current.pid}")
  /** In-process reference session: same function shims as an engine session. */
  val refSession: SparkSession = { val s = spark.newSession(); graft.DFCompat.install(s); s }
  var server: SocketServer = _
  var client: Client = _
  val handshakeMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  def newClient(): Client = {
    val c = new Client(server.port)
    val t0 = System.nanoTime()
    c.handshake()
    handshakeMs.synchronized(handshakeMs += (System.nanoTime() - t0) / 1e6)
    c
  }

  /** Starts the server on an ephemeral loopback port, registers the
    * tables as global temp views (as `ServerMain` does) and connects the
    * set-up client. */
  def startServer(): Unit = {
    server = new SocketServer(new Engine(spark), 0)
    server.start()
    val s = spark.newSession()
    graft.Tables.register(s, dataDir.toString)
    graft.Tables.names.foreach(t => s.table(t).createOrReplaceGlobalTempView(t))
    client = newClient()
  }

  def stopServer(): Unit = {
    if (client != null) { client.closeSession(); client.close(); client = null }
    if (server != null) { server.stop(); server = null }
  }

  def requireClean(p: Phase, what: String): Unit =
    if (p.all.exists(!_.ok))
      throw new IllegalStateException(s"$what failed: ${p.problems.asScala.mkString("; ")}")

  /** Row count and content hash computed on the executors. */
  def distributedDigest(df: DataFrame): Digest = {
    val parts = df.rdd.mapPartitions { it =>
      var h = 0L; var n = 0L
      it.foreach { r => h += ResultHash.rowHash(r.toSeq.iterator); n += 1 }
      Iterator((n, h))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** file → size of every regular file under `dir`. */
  def treeSizes(dir: Path): Map[String, Long] = {
    val st = Files.walk(dir)
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
    finally st.close()
  }

  /** `compute()` once per build of the program, then read back from the
    * run root. */
  def cached[A](name: String)(compute: => A): A = {
    val f = args.root.resolve(s"cache/$name-${args.build}.bin")
    if (Files.exists(f)) {
      val in = new java.io.ObjectInputStream(Files.newInputStream(f))
      try in.readObject().asInstanceOf[A] finally in.close()
    } else {
      val v = compute
      Files.createDirectories(f.getParent)
      val tmp = f.resolveSibling(f.getFileName.toString + s".${ProcessHandle.current.pid}")
      val out = new java.io.ObjectOutputStream(Files.newOutputStream(tmp))
      try out.writeObject(v) finally out.close()
      Files.move(tmp, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      v
    }
  }

  /** Median of three in-process runs of the control statement, after
    * two untimed runs. */
  def controlMs(): Double = Stats.median((0 until 5).map { _ =>
    val t0 = System.nanoTime()
    refSession.sql(Statements.control).collect()
    (System.nanoTime() - t0) / 1e6
  }.drop(2))
}

object Main {
  private val t0 = System.nanoTime()
  /** Progress line on stderr with seconds since start. */
  def stage(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $what")

  def session(args: Args): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors().toString
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // everything the run writes stays under its root
      .config("spark.local.dir", args.root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.root.resolve("spark-warehouse").toString)
    if (args.trace)
      b.config("spark.sql.queryExecutionListeners", classOf[PlanTraceListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** JIT compile time and GC time since JVM start. */
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (all, stolen) CPU ticks of the machine since boot, from
    * /proc/stat; zeros where it cannot be read. Stolen ticks are time
    * the hypervisor gave this machine's CPUs to other guests. */
  private def cpuTicks: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f.take(8).sum, f(7))
    } catch { case _: Exception => (0L, 0L) }

  private def load1: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val loadStart = load1
    val spark = session(args)
    val b = new Bench(spark, args)
    var exit = 0
    try {
      Files.createDirectories(b.workDir)
      Reference.load(args.root.getParent.resolve("perfbench/reference/operators.json"))
      val wl = Workloads(args.workload)
      if (args.recordReference) {
        val ops = new Operators(b)
        Reference.record(ops.probes.map(n => n -> ops.call(n)._1))
        stage("recorded operator reference outputs")
        return
      }
      // Set-up as a user of the server waits for it: from JVM start until
      // the server listens, the tables are registered, the workload's
      // state (the catalog table) is set up and one warm-up pass is done.
      // The load generator's state and the reference answers are computed
      // in between; their time is left out.
      var untimedNs = 0L
      b.startServer()
      stage("server listening")
      val u0 = System.nanoTime()
      wl.prepare(b)
      wl.references(b)
      untimedNs += System.nanoTime() - u0
      stage("references computed")
      wl.setup(b)
      wl.warmup(b, wl.warmupRounds)
      val readyS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
      val setupS = readyS - untimedNs / 1e9
      stage("set up and warmed up")
      val controlBefore = b.controlMs()
      val (jit0, gc0, cpu0) = (jitMs, gcMs, cpuTicks)

      val result =
        if (!args.trace) {
          val p = new Phase
          wl.run(b, args.seconds, wl.minRounds, args.seed, Seq(p))
          Report.endToEnd(p, setupS)
        } else Layers.tracedRun(b, wl, setupS, readyS)
      stage("measured")
      val (jit1, gc1, cpu1) = (jitMs, gcMs, cpuTicks)
      val postChecks = wl.finish(b)
      val controlAfter = b.controlMs()
      val contaminated = math.max(controlAfter, controlBefore) >
        1.5 * math.min(controlAfter, controlBefore)
      Report.print(result, postChecks, Map(
        "commit" -> args.commit, "workload" -> args.workload, "seed" -> args.seed,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "load1_start" -> loadStart, "load1_end" -> load1,
        "control_before_ms" -> controlBefore, "control_after_ms" -> controlAfter,
        "contaminated" -> contaminated,
        "setup_s" -> setupS, "ready_s" -> readyS,
        "measured_jit_ms" -> (jit1 - jit0), "measured_gc_ms" -> (gc1 - gc0),
        "measured_steal_pct" -> 100.0 * (cpu1._2 - cpu0._2) / (cpu1._1 - cpu0._1)))
    } catch {
      case e: Throwable =>
        System.err.println(s"benchmark failed: $e")
        e.printStackTrace()
        exit = 1
    } finally {
      b.stopServer()
      spark.stop()
      deleteTree(b.workDir)
    }
    sys.exit(exit)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally st.close()
  }
}
