package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `catalog`: passes over a fixed list of catalog gates on the committed
  * tables, each written to a noop sink as `graft.Bench` does. Its inputs do
  * not depend on the seed. A fingerprint of every result (row count plus an
  * order-independent row hash) is observed during that same write and
  * compared with the fingerprint recorded at the seed commit. */
final class CatalogRun(t: Tracer, data: String, fingerprints: String) extends Workload {
  import CatalogRun._

  private val errors = ArrayBuffer.empty[String]
  private var expected: Map[String, Checks.Fingerprint] = Map.empty
  private var runs, failed = 0L

  def generate(): Unit = expected = Checks.readFingerprints(fingerprints)

  /** One untimed pass: also derives each pp gate's standing state, once
    * per session, so set-up carries it and the timed passes do not. */
  def warmUp(spark: SparkSession): Unit = onePass(spark)

  private def onePass(spark: SparkSession): Unit =
    t.span("pass") {
      gates.foreach { g =>
        runs += 1
        val t0 = t.nowMs
        val fp = try Some(Session.releasing(spark) {
          t.span(s"gate.$g", Layers.ofGate(g))(run(spark, g, data))
        }) catch { case scala.util.control.NonFatal(e) =>
          errors += s"$g threw $e"; None
        }
        System.err.println(f"[perfbench] gate $g ${t.nowMs - t0}%.0f ms")
        val errs = fp.toSeq.flatMap(Checks.fingerprint(g, expected.get(g), _))
        errors ++= errs
        if (fp.isEmpty || errs.nonEmpty) failed += 1
      }
    }

  def measure(spark: SparkSession, seconds: Int): Outcome = {
    val (runs0, failed0) = (runs, failed)
    val from = t.nowMs
    var passes = 0
    while (passes == 0 || t.nowMs - from < seconds * 1000.0) { onePass(spark); passes += 1 }
    val to = t.nowMs
    val passSpans = t.spansNamed("pass").filter(_.start >= from)
    val gateS = gates.map(g => g -> t.spansNamed(s"gate.$g").filter(_.start >= from).map(_.ms / 1000))
    Outcome(runs - runs0, failed - failed0, errors.toSeq,
      Map("pass_s" -> Stats.median(passSpans.map(_.ms / 1000)),
        "latency_ms" -> Stats.median(gateS.map(g => Stats.median(g._2) * 1000))),
      t.layerMetrics(from, to, passes) ++ gateS.map { case (g, s) => s"gate.$g.s" -> s.sum / passes } ++
        Seq("bench.gap_s" -> passSpans.map(p => t.selfTime(p)).sum / 1000 / passes),
      Seq(s"$passes timed passes over ${gates.size} gates on $data",
        "slowest gates s: " + gateS.sortBy(-_._2.sum).take(5)
          .map { case (g, s) => f"$g ${s.sum / passes}%.3f" }.mkString(", ")))
  }
}

object CatalogRun {
  /** One gate of every catalog family: the connected-components
    * maintainer pp04, and two gates that cost little more than the fixed
    * cost of a job (q09, sa01). A pass takes about 12 s on 4 cores; see
    * perfbench/README.md for the gates left out and why. */
  val gates: Seq[String] = Seq(
    "q09_topk", "dd05_lsh_dedup", "ta18_bm25_topk", "vs14_knn_graph_probe2",
    "sa01_hash_sample", "mm04_perceptual_dedup", "pp04_incremental_clusters")

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Run gate `g` into a noop sink, observing its fingerprint on the way. */
  def run(spark: SparkSession, g: String, data: String): Checks.Fingerprint = {
    val df0 = SparkEntry.queries(g)(spark, data)
    // positional names: gate outputs may repeat or dot a column name
    val df = df0.toDF(df0.columns.indices.map(i => s"c$i"): _*)
    // hash() rejects maps; their JSON text is hashed instead
    val cols = df.schema.fields.map(f => if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val obs = Observation(s"fp-$g")
    observed(df, obs, cols).write.format("noop").mode("overwrite").save()
    val m = obs.get
    Checks.Fingerprint(m("rows").asInstanceOf[Long],
      Option(m("hash")).map(h => BigDecimal(h.asInstanceOf[java.math.BigDecimal])).getOrElse(BigDecimal(0)))
  }

  private def observed(df: DataFrame, obs: Observation, cols: Seq[org.apache.spark.sql.Column]) =
    df.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast(DecimalType(38, 0))).as("hash"))

  /** Record the fingerprints of every gate to `out`, one per line. Run at
    * a commit whose gate outputs the DuckDB oracle has passed. */
  def main(args: Array[String]): Unit = {
    val Array(data, out) = args
    val spark = Session.start(Runtime.getRuntime.availableProcessors())
    try {
      val lines = gates.map { g => val f = run(spark, g, data); s"$g\t${f.rows}\t${f.hash}" }
      java.nio.file.Files.writeString(java.nio.file.Path.of(out),
        "# gate\trows\thash (see perfbench/README.md)\n" + lines.mkString("", "\n", "\n"))
    } finally spark.stop()
  }
}
