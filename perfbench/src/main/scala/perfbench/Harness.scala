package perfbench

import graft.cli.PageRankMain
import graft.core.GraftSession
import graft.metrics.ResourceListener
import graft.operators.{GraphBuilder, Louvain}
import graft.sources.SyntheticGraph
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.util.Try

/** One workload: inputs made from the seed, then passes that call the
  * engine only through its public functions. A pass returns a thunk that
  * gathers what the output checks need; it runs after the pass's clock
  * has stopped.
  */
trait Workload {
  def prepare(spark: SparkSession, seed: Long, inputs: Path): Map[String, Any]
  def pass(spark: SparkSession, tr: Tracer, out: Path): () => Map[String, Any]
}

/** The reference workflow: `PageRankMain <edges> <out>` with its defaults
  * over a SNAP text edge list of a seeded power-law graph. The traced pass
  * runs the same CLI call inside one span; its phase split comes from the
  * CLI's own `_timings.csv` (see run.py).
  */
final class PageRankCli(vertices: Long, edges: Long) extends Workload {
  private var input: String = _

  def prepare(spark: SparkSession, seed: Long, inputs: Path) = {
    val dir = inputs.resolve(s"pagerank-$vertices-$edges-$seed")
    if (!Files.exists(dir.resolve("_SUCCESS")))
      SyntheticGraph.powerLaw(spark, vertices, edges, seed)
        .select(concat_ws("\t", col("src"), col("dst")))
        .coalesce(1).write.mode("overwrite").text(dir.toString)
    input = dir.toString
    Map("input" -> input)
  }

  def pass(spark: SparkSession, tr: Tracer, out: Path) = {
    tr.span("cli.pagerank_main") {
      PageRankMain.main(Array(input, out.toString))
    }
    () => Map("out" -> out.toString)
  }
}

/** A tiny-data loop: converged multilevel Louvain on a planted two-block
  * graph, salt derived from the seed, scored with `GraphBuilder.modularity`
  * as the g52c row does. About 65 small jobs a pass; the driver dominates.
  */
final class IterativeTiny(blockV: Long, blockE: Long, rounds: Int,
    levels: Int) extends Workload {
  private var salt: String = _

  def prepare(spark: SparkSession, seed: Long, inputs: Path) = {
    salt = s"g22b-$seed"
    Map("louvain_salt" -> salt, "block_v" -> blockV, "block_e" -> blockE)
  }

  def pass(spark: SparkSession, tr: Tracer, out: Path) = {
    val blocks = tr.span("sources.fixture") {
      SyntheticGraph.portableBlocks(spark, blockV, blockE, salt)
    }
    val (lou, levelsRun) = tr.span("operators.louvain") {
      val (lab, n) = Louvain.multilevelConverged(blocks, rounds, levels)
      val qv = GraphBuilder.modularity(blocks, lab)
        .select(col("n_comms"), col("q_r"))
      (lab.crossJoin(broadcast(qv)).collect(), n)
    }
    () => Map(
      "louvain" -> lou.map(r =>
        Seq(r.getAs[Long]("id"), r.getAs[Long]("lbl"))).toSeq,
      "q_r" -> lou.headOption.map(_.getAs[Double]("q_r")),
      "levels" -> levelsRun)
  }
}

/** Benchmark driver JVM. Two modes:
  *
  *  - `--setup-only <out>`: build the session in this fresh JVM, record
  *    the build time, stop.
  *  - `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  *    --inputs <dir> --work <dir> --out <file>`: build the session, make
  *    the inputs (kept per seed under `--inputs`), run a cold pass,
  *    [[WarmupPasses]] unmeasured pass and [[warmPasses]]`(s)` warm
  *    passes; with `--trace 1` one traced pass runs between the second and
  *    third warm pass, so it is timed against untraced passes at the same
  *    point of the run. Writes the raw record as JSON; `run.py` derives the
  *    metrics from it.
  */
object Harness {
  val Cores = 4
  /** Passes after the cold one that are run but not measured: the first
    * of them is still ~15 % slower than the rest while the JIT settles.
    */
  val WarmupPasses = 1
  val MinWarmPasses = 3
  /** Seconds of `--seconds` per warm pass: about one warm pass of either
    * workload on a 4-vCPU VM.
    */
  val PassBudgetS = 6.0

  /** The warm-pass count follows from `--seconds` alone, never from how
    * fast passes run, so a faster cold pass or host adds no passes that
    * would pull the median toward later, faster ones.
    */
  def warmPasses(seconds: Double): Int =
    math.max(MinWarmPasses, (seconds / PassBudgetS).toInt)

  def workload(name: String): Workload = name match {
    case "pagerank_cli" => new PageRankCli(27344L, 159375L)
    case "iterative_tiny" => new IterativeTiny(60L, 180L, 2, 1)
    case other => sys.error(s"unknown workload $other")
  }

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  private def buildSession(): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = GraftSession.local("perfbench", Cores)
    (spark, secs(t0))
  }

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Leaves the session as a fresh CLI user would find it: no cached
    * frames or RDDs and no listener a pass left registered.
    */
  private def hygiene(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.perfbench.BusAccess.listenersOf[ResourceListener](sc)
      .foreach(sc.removeSparkListener)
  }

  /** Heap in use after full GCs; the pauses let Spark's ContextCleaner
    * drop the broadcasts and shuffles the collected frames referenced.
    */
  private def heapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    for (_ <- 1 to 3) {
      System.gc()
      Thread.sleep(200)
    }
    System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def runPass(spark: SparkSession, w: Workload, tr: Tracer,
      out: Path, i: Int): Map[String, Any] = {
    val t0 = System.nanoTime()
    val r = Try {
      if (!tr.enabled) (w.pass(spark, tr, out), Map.empty[String, Any])
      else LayerListener.around(spark, tr.originMs) {
        tr.span("pass")(w.pass(spark, tr, out))
      }
    }
    val wall = secs(t0)
    val detail = r.flatMap(f => Try(f._1()))
    val cache = storageMb(spark)
    hygiene(spark)
    val left = storageMb(spark)
    val traced =
      if (!tr.enabled) Map.empty
      else Map("spans" -> tr.toSeq, "layers" -> r.map(_._2).getOrElse(Map()))
    Map("pass" -> i, "wall_s" -> wall, "cache_mb" -> cache, "left_mb" -> left,
      "ok" -> detail.isSuccess,
      "error" -> detail.failed.toOption.map(e => s"$e"),
      "detail" -> detail.getOrElse(Map.empty)) ++ traced
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    a.get("--setup-only") match {
      case Some(out) =>
        val (spark, s) = buildSession()
        spark.stop()
        Files.writeString(Paths.get(out), Json.render(Map("setup_s" -> s)))
      case None => runWorkload(a)
    }
  }

  private def runWorkload(a: Map[String, String]): Unit = {
    val work = Paths.get(a("--work"))
    val w = workload(a("--workload"))
    val (spark, setup) = buildSession()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val inputs = w.prepare(spark, a("--seed").toLong,
        Paths.get(a("--inputs")))
      // the traced pass, if any, follows the second warm pass, where the
      // passes drift least, and is compared with the passes either side
      val schedule =
        Seq.fill(1 + WarmupPasses + warmPasses(a("--seconds").toDouble))(false)
          .patch(3 + WarmupPasses, if (a("--trace") == "1") Seq(true) else Nil,
            0)
      val all = schedule.zipWithIndex.map { case (t, i) =>
        t -> runPass(spark, w, new Tracer(t, i), work.resolve(s"out/pass$i"),
          i)
      }
      val passes = all.collect { case (false, p) => p }
      val traced = all.collectFirst { case (true, p) => p }
      val record = Map("setup_s" -> setup, "inputs" -> inputs,
        "passes" -> passes, "warmup" -> WarmupPasses, "traced" -> traced,
        "retained_heap_mb" -> heapMb(), "cores" -> Cores)
      Files.writeString(Paths.get(a("--out")), Json.render(record))
    } finally spark.stop()
  }
}
