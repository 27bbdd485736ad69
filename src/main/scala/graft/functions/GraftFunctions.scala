package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.zorder.ZOrder

/**
 * Column-level function facade for the engine — the Spark analog of the
 * reference's expression library (`Utils.java`, `Point.java:38-42`,
 * `Range.java:42-64`; SURVEY §2.8). All functions are either native
 * Catalyst expressions with codegen or compositions of builtin
 * (codegen'd) functions — no Scala UDFs on the hot path.
 */
object GraftFunctions {

  /** Morton key of two non-negative int coordinates. */
  def zorder(x: Column, y: Column): Column =
    Bridge.column(ZOrderKey(Bridge.expression(x), Bridge.expression(y)))

  /** x coordinate of a Morton key. */
  def zorder_x(z: Column): Column = Bridge.column(ZOrderDim(Bridge.expression(z), 1))

  /** y coordinate of a Morton key. */
  def zorder_y(z: Column): Column = Bridge.column(ZOrderDim(Bridge.expression(z), 0))

  /** 3-D (spatio-temporal) Morton key of three 21-bit coordinates. */
  def zorder3(x: Column, y: Column, t: Column): Column =
    Bridge.column(ZOrder3Key(Bridge.expression(x), Bridge.expression(y),
      Bridge.expression(t)))

  /** x / y / t coordinate of a 3-D Morton key. */
  def zorder3_x(z: Column): Column = Bridge.column(ZOrder3Dim(Bridge.expression(z), 2))
  def zorder3_y(z: Column): Column = Bridge.column(ZOrder3Dim(Bridge.expression(z), 1))
  def zorder3_t(z: Column): Column = Bridge.column(ZOrder3Dim(Bridge.expression(z), 0))

  /** The bucket key (prefix of length `pl`, suffix zeroed) that owns a
    * Morton key. Builtin bitwise AND — stays in codegen. */
  def bucket_key(z: Column, prefixLen: Int): Column =
    z.bitwiseAND(lit(ZOrder.makeMask(prefixLen)))

  /** Bucket name rendering `011*****...` (64 chars) — the reference's
    * `Utils.toString(key, pl)` (`Utils.java:161-182`) as a composition
    * of builtin string functions. */
  def bucket_name(z: Column, prefixLen: Int): Column =
    concat(
      substring(lpad(bin(z), 64, "0"), 1, prefixLen),
      lit("*" * (64 - prefixLen)))

  /** Squared Euclidean distance between (x, y) and a fixed query point,
    * in exact Long arithmetic (no floating point — deterministic and
    * oracle-friendly; the reference uses `double` Euclidean distance,
    * `Point.java:38-42`, which ranks identically). */
  def dist2(x: Column, y: Column, qx: Int, qy: Int): Column = {
    val dx = x.cast("long") - lit(qx.toLong)
    val dy = y.cast("long") - lit(qy.toLong)
    dx * dx + dy * dy
  }

  /** Fused exact integer inner product of two BIGINT arrays (native
    * codegen loop — no intermediate array, unlike aggregate∘zip_with). */
  def dot_long(a: Column, b: Column): Column =
    Bridge.column(DotLong(Bridge.expression(a), Bridge.expression(b)))

  /** Unicode NFC canonical composition (native codegen expression —
    * Spark ships no normalizer; see [[NfcNormalize]]). */
  def nfc_normalize(s: Column): Column =
    Bridge.column(NfcNormalize(Bridge.expression(s)))

  /** One-pass SimHash aggregate over per-element 64-bit hashes
    * ([[SimHashAgg]] — map-side combinable counter buffer). */
  def simhash_agg(h: Column, bits: Int = 60): Column =
    Bridge.column(SimHashAgg(Bridge.expression(h), bits).toAggregateExpression())

  /** The engine's SQL functions as (name, implementing class, builder):
    * [[register]] and [[graft.plans.GraftExtensions]] both expose
    * exactly this table. */
  private[graft] val sqlFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("zorder", classOf[ZOrderKey], es => ZOrderKey(es.head, es(1))),
    ("zorder_x", classOf[ZOrderDim], es => ZOrderDim(es.head, 1)),
    ("zorder_y", classOf[ZOrderDim], es => ZOrderDim(es.head, 0)),
    ("zorder3", classOf[ZOrder3Key], es => ZOrder3Key(es.head, es(1), es(2))),
    ("zorder3_x", classOf[ZOrder3Dim], es => ZOrder3Dim(es.head, 2)),
    ("zorder3_y", classOf[ZOrder3Dim], es => ZOrder3Dim(es.head, 1)),
    ("zorder3_t", classOf[ZOrder3Dim], es => ZOrder3Dim(es.head, 0)),
    ("dot_long", classOf[DotLong], es => DotLong(es.head, es(1))),
    ("sorted_floor", classOf[SortedFloor], es => SortedFloor(es.head, es(1))),
    ("simhash_agg", classOf[SimHashAgg], es => SimHashAgg(es.head).toAggregateExpression()),
    ("nfc_normalize", classOf[NfcNormalize], es => NfcNormalize(es.head)))

  /** Register the engine functions for SQL use in this session. */
  def register(spark: SparkSession): Unit = sqlFunctions.foreach { case (name, _, build) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
  }
}
