package graftbench

import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.SparkEntry

/** The operator-query workloads: each listed query is built by its
  * registered function (`queries.build`, which runs any eager action or
  * loop the query makes) and materialized through a sink
  * (`queries.materialize`). Timed passes write each output as parquet,
  * which the check then compares with the query's oracle twin; the
  * warm-up uses the `noop` sink. A listed query that is not registered
  * counts as a failed operation. */
object Queries {
  /** `leftover`: persisted RDDs the query created that are still alive
    * after it returned; `leftMb`: their block bytes at that point. */
  final case class QueryResult(name: String, wall: Double, error: Option[String],
      leftover: Int, leftMb: Double)

  /** Pass `pass` runs the list in a seeded order. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 7919L + pass).shuffle(names)

  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  def runOne(spark: SparkSession, tr: Tracer, name: String, dir: String,
      sink: DataFrame => Unit): QueryResult = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val err = try {
      tr.span("query", name) {
        val fn = SparkEntry.queries.getOrElse(name,
          throw new NoSuchElementException(s"query $name is not registered"))
        val df = tr.span("queries.build")(fn(spark, dir))
        tr.span("queries.materialize")(sink(df))
      }
      None
    } catch {
      case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val left = sc.getPersistentRDDs.keySet -- before
    val leftMb = if (!tr.on || left.isEmpty) 0.0 else
      sc.getRDDStorageInfo.filter(i => left(i.id)).map(i => i.memSize + i.diskSize).sum / 1e6
    QueryResult(name, wall, err, left.size, leftMb)
  }

  def parquet(dir: String): DataFrame => Unit =
    _.write.mode(SaveMode.Overwrite).parquet(dir)

  /** One pass over the list, writing query q's output to `outDir/q`;
    * returns the pass wall and per-query results. */
  def pass(spark: SparkSession, tr: Tracer, names: Seq[String], dir: String,
      seed: Long, passIx: Int, outDir: String): (Double, Seq[QueryResult]) = {
    val t0 = System.nanoTime()
    val res = order(names, seed, passIx).map(q => runOne(spark, tr, q, dir, parquet(s"$outDir/$q")))
    ((System.nanoTime() - t0) / 1e9, res)
  }
}
