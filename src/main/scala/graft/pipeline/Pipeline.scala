package graft.pipeline

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

/** Layer A — the blow-equivalent typed pipeline facade (SURVEY.md
  * §7.1 A1–A5): a fluent `source → flatMap* → sink` API over
  * `Dataset[T]`, mirroring the reference's combinator names so the
  * capability correspondence is auditable:
  *
  *  - `GeneratorSource` (`/root/reference/maps/maps.go:39-49`) —
  *    wrap a finite generator into a record stream → here a
  *    `Dataset` built from a range or parallelized seq (lazy plan, not
  *    a live channel; Spark's scheduler replaces the goroutine pump).
  *  - `MapLocal(m)` (`maps/maps.go:56-68`) — single-lane flatMap →
  *    `Dataset.flatMap`. Parallelism is a non-semantic detail in the
  *    reference (one goroutine); Spark runs it data-parallel, which
  *    preserves the (unordered-stream) semantics.
  *  - `MapLocalParallel(m, n)` (`maps/maps.go:70-100`) — flatMap over
  *    n key-affine lanes: records with equal `Key()` hit the same
  *    lane → `repartition(n, key)` then per-partition flatMap. Spark's
  *    hash partitioning is a strict guarantee (the reference's is
  *    too, at fixed lane count — `maps/maps.go:90`).
  *  - `MapDispatch(m)` (`maps/dispatch.go:70-101`) — distributed
  *    flatMap with scheduling + retry → plain `flatMap`: Spark's task
  *    scheduler, locality, and `spark.task.maxFailures` subsume the
  *    worker pool, and give exactly-once per job output instead of
  *    the reference's at-least-once (SURVEY.md §1.1).
  *  - `Sink()` (`maps/maps.go:51-54`) — drain-and-discard action →
  *    `foreach(_ => ())`; `sinkCount()` is the counted variant used
  *    in tests.
  *
  * The `Keyed` interface (`maps/maps.go:102-104`) maps to an explicit
  * key function `T => Int`; encoders (`maps/dispatch.go:15-18`) map to
  * implicit Spark `Encoder[T]` evidence — resolved at compile time
  * instead of registered at runtime.
  *
  * 100 TB notes: every combinator is a narrow transformation except
  * `mapLocalParallel`, whose single hash repartition is exactly the
  * reference's lane routing; nothing materializes on the driver. A
  * driver-side `Seq` enters the plan as an RDD reference, never as its
  * rows: a `LocalRelation` leaf would make every analyzer and
  * optimizer rule of every query over it map over every row, so
  * planning would cost rows × rules instead of a constant.
  */
final class Pipeline[T](val ds: Dataset[T]) extends Serializable {

  /** flatMap stage executed with Spark's default parallelism
    * (reference: one goroutine — parallelism is non-semantic). */
  def mapLocal[U: Encoder](m: T => IterableOnce[U]): Pipeline[U] =
    new Pipeline(ds.flatMap(m))

  /** Key-partitioned parallel flatMap: equal keys are routed to the
    * same lane (partition), mirroring `PosMod(x.Key(), n)` routing
    * (`maps/maps.go:90`, `:108-113` — Murmur3 replaces PosMod). */
  def mapLocalParallel[U: Encoder](m: T => IterableOnce[U], lanes: Int)(
      key: T => Int)(implicit kv: Encoder[(Int, T)]): Pipeline[U] = {
    val keyed = ds.map(t => (key(t), t))
    val routed = keyed.repartition(lanes, col("_1")).map(_._2)(ds.encoder)
    new Pipeline(routed.flatMap(m))
  }

  /** Distributed flatMap: scheduling, worker selection, and retry are
    * Spark's task machinery (`spark.task.maxFailures`), replacing the
    * reference's per-record worker checkout + infinite retry. */
  def mapDispatch[U: Encoder](m: T => IterableOnce[U]): Pipeline[U] =
    new Pipeline(ds.flatMap(m))

  /** Pass-through stage printing every record — the reference's
    * built-in `PrintMapper` (`maps/maps.go:23-32`). Executor-side
    * stdout, like the reference's worker-side Printf. */
  def printMapper(): Pipeline[T] =
    new Pipeline(ds.map { t => println(t); t }(ds.encoder))

  /** Drain the stream, discarding records (`maps/maps.go:51-54`) —
    * the action that runs the pipeline. */
  def sink(): Unit = ds.foreach(_ => ())

  /** Counted drain — sink plus observability, used by tests/bench.
    * One pass, per-partition counts, no aggregate exchange: the
    * partition counts are summed on the driver, so a routed pipeline
    * runs one job fewer than `ds.count()`. Every record is still
    * drained (Catalyst cannot prune a flatMap either way). */
  def sinkCount(): Long =
    ds.mapPartitions(it => Iterator.single(it.size.toLong))(Encoders.scalaLong)
      .collect().sum

  /** Write the stream as parquet — the useful sink the reference
    * lacks (its only outputs are side effects). */
  def sinkParquet(path: String): Unit =
    ds.write.mode("overwrite").parquet(path)
}

object Pipeline {

  /** A finite generator as a source (`GeneratorSource`,
    * `maps/maps.go:39-49`): a parallelized seq, not a driver-side
    * channel. The plan's leaf holds a reference to the parallelized
    * RDD, not the rows, so planning cost does not grow with `data`.
    * Not persisted: task retry recomputes a lost partition from it. */
  def generatorSource[T: Encoder](spark: SparkSession, data: Seq[T]): Pipeline[T] = {
    val enc = implicitly[Encoder[T]]
    new Pipeline(spark.createDataset(spark.sparkContext.parallelize(data)(enc.clsTag)))
  }

  /** Range generator — the shape of the reference's `FizzGenerator`
    * (`cmd/fizzbuzz/fizzbuzz.go:11-17`: emit 0 until n). */
  def rangeSource(spark: SparkSession, n: Long): Pipeline[java.lang.Long] =
    new Pipeline(spark.range(n).as(Encoders.LONG))

  def fromDataset[T](ds: Dataset[T]): Pipeline[T] = new Pipeline(ds)
}

/** The reference's example record types
  * (`cmd/fizzbuzz/fizz.proto:4-11`) as case classes — `Encoder`
  * derivation replaces the protobuf Marshaller pair
  * (`cmd/fizzbuzz/fizzbuzz.go:67-92`). */
case class FizzyInput(value: Int) {
  /** `Key()` impl (`cmd/fizzbuzz/fizzbuzz.go:59-61`): identity hash. */
  def key: Int = value
}
case class FizzBuzz(number: Int, word: String)

/** The canonical user operator (`cmd/fizzbuzz/fizzbuzz.go:19-46`),
  * minus the simulated 250 ms sleep: int → fizz/buzz/fizzbuzz/number.
  * 1-in-1-out here, but typed as flatMap (0..N out) exactly like the
  * reference's `Mapper.Do`. */
object FizzMapper {
  def apply(in: FizzyInput): Seq[FizzBuzz] = {
    val w =
      if (in.value % 15 == 0) "fizzbuzz"
      else if (in.value % 3 == 0) "fizz"
      else if (in.value % 5 == 0) "buzz"
      else in.value.toString
    Seq(FizzBuzz(in.value, w))
  }
}
