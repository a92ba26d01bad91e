package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, MapType, StructType}

/** A recorded output: row count and order-independent content hash. */
final case class Digest(rows: Long, hash: String)

/** One attempted operation. A failed op (threw, or its output did not match
  * the recorded digest) carries no latency sample. */
final case class OpResult(name: String, latencyS: Option[Double], digest: Option[Digest],
    error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

object Action {
  private val seq = new AtomicLong(0L)

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Sum of per-row xxhash64 over every column: independent of row order,
    * exact (decimal, no overflow). Spark cannot hash maps, so a map-typed
    * column is hashed through its sorted entries or its JSON form. */
  private def hashSum(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df(f.name)
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case dt if hasMap(dt) => to_json(c)
        case _ => c
      }
    }
    sum(xxhash64(cols: _*).cast(DecimalType(38, 0)))
  }

  private def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"c$i"): _*)

  /** The timed terminal action: write to the `noop` sink, which evaluates
    * every output column (`count()` would let Catalyst prune them), while an
    * observation collects the row count and content hash on the way. */
  def run(df: DataFrame): Digest = {
    val named = positional(df)
    val obs = Observation(s"graftbench${seq.incrementAndGet()}")
    named.observe(obs, count(lit(1)).as("rows"), hashSum(named).as("hash"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Digest(m("rows").asInstanceOf[Long], String.valueOf(m("hash")))
  }

  /** The same digest for a stored table (used after a build, untimed). */
  def digest(df: DataFrame): Digest = {
    val named = positional(df)
    val r = named.agg(count(lit(1)), hashSum(named)).head()
    Digest(r.getLong(0), String.valueOf(r.get(1)))
  }
}

/** Runs one operation, times it, and checks its output. */
object Runner {

  /** Compares against the recorded digest; `None` means the output matches. */
  type Check = Digest => Option[String]

  def expect(expected: Map[String, Digest], name: String): Check = got =>
    expected.get(name) match {
      case None => Some(s"no recorded digest for $name")
      case Some(e) if e == got => None
      case Some(e) => Some(s"output mismatch: got $got, recorded $e")
    }

  /** [[expect]], or no check at all when nothing is recorded. */
  def check(expected: Option[Map[String, Digest]], name: String): Check =
    expected.fold[Check](_ => None)(expect(_, name))

  def timed(name: String, check: Check)(body: => Digest): OpResult = {
    val t0 = System.nanoTime()
    try {
      val d = body
      val lat = (System.nanoTime() - t0) / 1e9
      check(d) match {
        case None => OpResult(name, Some(lat), Some(d), None)
        case err => OpResult(name, None, Some(d), err)
      }
    } catch {
      case e: Throwable => OpResult(name, None, None, Some(e.toString.take(500)))
    }
  }

  /** One query: `build` is `Q.run` (which may run eager barrier jobs), then
    * the terminal action. With `spans`, both are traced under one root span
    * whose job tag the query's Spark jobs carry; each query is one trace. */
  def query(spark: SparkSession, name: String, build: () => DataFrame, check: Check,
      spans: Option[Spans] = None): OpResult =
    timed(name, check) {
      spans match {
        case None => Action.run(build())
        case Some(sp) =>
          val id = sp.nextId()
          sp.span("query " + name, "queries", 0L, id, id) {
            SparkTrace.tagged(spark, id) {
              val df = sp.span("q.run", "queries", id, id)(build())
              sp.span("action", "queries", id, id)(Action.run(df))
            }
          }
      }
    }
}
