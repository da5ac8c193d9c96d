package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests for the benchmark's own helpers: percentiles, fingerprints
  * and call-site attribution. Run with `sbt test` inside `perfbench/`.
  */
class HelpersSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("perfbench-helpers")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("percentile interpolates between order statistics") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0), 100) == 3.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.percentile(Nil, 50).isNaN)
  }

  test("tail picks the highest percentile with at least 10 samples beyond it") {
    val thousand = (1 to 1000).map(_.toDouble)
    // p99.9 has 1 sample beyond it, p99 exactly 10
    assert(Stats.beyond(1000, 99.9) == 1)
    val (p, v, n) = Stats.tail(thousand)
    assert(p == 99.0 && n == 10)
    assert(v == Stats.percentile(thousand, 99.0))
    assert(thousand.count(_ > v) == 10)

    val hundred = (1 to 100).map(_.toDouble)
    val (p100, v100, n100) = Stats.tail(hundred)
    assert(p100 == 90.0 && n100 == 10 && hundred.count(_ > v100) == 10)
  }

  test("tail falls back to the maximum when no tail has 10 samples beyond it") {
    val few = Seq(5.0, 1.0, 3.0, 2.0, 4.0)
    assert(Stats.tail(few) == ((100.0, 5.0, 0)))
  }

  test("DataFrame fingerprints ignore row order and partitioning") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, s"s$i", i * 0.1, Seq(i, -i))).toDF("k", "s", "d", "a")
    val fp = Fingerprint.of(df)
    assert(fp.rows == 200)
    assert(Fingerprint.of(df.orderBy($"k".desc)) == fp)
    assert(Fingerprint.of(df.repartition(7)) == fp)
    assert(Fingerprint.of(df.filter($"k" =!= 3)) != fp)
    assert(Fingerprint.of(df.withColumn("s", org.apache.spark.sql.functions.upper($"s"))) != fp)
    assert(Fingerprint.parse(fp.render) == fp)
  }

  test("a frame belongs to the layer of its graft package") {
    assert(Layers.ofFrame("graft.tx.TxReplay$.replay(TxReplay.scala:180)").contains(Layers.Tx))
    assert(Layers.ofFrame("at graft.streaming.TxReplayStream.processBatch(TxReplayStream.scala:330)")
      .contains(Layers.Streaming))
    assert(Layers.ofFrame("graft.sources.EnvelopeSource$.read(EnvelopeSource.scala:12)").contains(Layers.Cdc))
    assert(Layers.ofFrame("graft.functions.VectorFunctions$.dot(VectorFunctions.scala:9)").contains(Layers.Scale))
    assert(Layers.ofFrame("graft.plans.RewriteHofDotProduct$.apply(RewriteHofDotProduct.scala:3)")
      .contains(Layers.Scale))
    assert(Layers.ofFrame("graft.ops.Denormalize$.apply(Denormalize.scala:40)").contains(Layers.Ops))
    // registries and anything outside graft have no layer
    assert(Layers.ofFrame("graft.ScaleQueries$.$anonfun$queries$1(ScaleQueries.scala:10)").isEmpty)
    assert(Layers.ofFrame("org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)").isEmpty)
    assert(Layers.ofFrame("perfbench.TxBackfill$.run(TxBackfill.scala:70)").isEmpty)
  }

  test("a call site belongs to its first layer frame") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)",
      "graft.tx.TxReplay$.replay(TxReplay.scala:180)",
      "graft.streaming.TxReplayStream.processBatch(TxReplayStream.scala:330)",
      "perfbench.TxBackfill$.run(TxBackfill.scala:70)").mkString("\n")
    assert(Layers.ofCallSite(site).contains(Layers.Tx))
    assert(Layers.ofCallSite("perfbench.QuerySweep$.run(QuerySweep.scala:1)\nscala.Option.map").isEmpty)
    assert(Layers.ofCallSite("").isEmpty)
  }
}
