package graft.gen

import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GenExpressions
import graft.model._

/** Spec→`Column` expression compiler: the Spark-native replacement for the
  * reference's spec→SQL-string compiler (reference: src/sqlHelpers.ts:3-98).
  *
  * Differences by design:
  *   - **Deterministic**: the reference draws cell values from Trino's
  *     `random()`/`uuid()` (non-deterministic per run). We derive every draw
  *     from `xxhash64(seed, id, column, salt)` mapped to uniform [0,1), so a
  *     row's content is a pure function of (seed, id) — independent of
  *     partitioning, batching, and retries. Same distributions, reproducible.
  *   - Every expression supports whole-stage codegen: built-ins with a
  *     `doGenCode`, plus the fused string kernel
  *     [[graft.functions.GenExpressions.SeededHex]] and the double rounding
  *     kernel [[graft.functions.GenExpressions.RoundHalfUp]]; no UDFs and no
  *     higher-order functions (Spark's `transform` is `CodegenFallback`, so
  *     arrays are built by element position instead).
  */
object ColumnExprs {

  /** Spec → Spark storage type (reference: src/sqlHelpers.ts:3-27). */
  def sparkTypeOf(spec: FieldSpec): DataType = spec match {
    case _: IntSpec       => IntegerType
    case _: BigintSpec    => LongType
    case _: DoubleSpec    => DoubleType
    case _: StringSpec    => StringType
    case _: DateSpec      => DateType
    case _: TimestampSpec => TimestampType
    case EnumSpec(base, _, _) =>
      base match {
        case EnumBase.Str    => StringType
        case EnumBase.Int    => IntegerType
        case EnumBase.Bigint => LongType
      }
    case ArraySpec(elem, _, _, nullable) =>
      ArrayType(sparkTypeOf(elem), containsNull = elem.nullable > 0)
  }

  private val TwoTo53 = 9007199254740992.0 // 2^53

  /** Uniform [0,1) as a pure function of (seed, id, salt, extra cols).
    * Top 53 bits of xxhash64 → exact double in [0,1). */
  private def uniform(seed: Long, id: Column, salt: String, extra: Seq[Column]): Column =
    shiftrightunsigned(xxhash64((lit(seed) +: id +: lit(salt) +: extra): _*), 11) / lit(TwoTo53)

  /** NULL with probability p (reference: src/sqlHelpers.ts:28-32). */
  private def wrapNullable(e: Column, p: Double, nullDraw: Column): Column =
    if (p <= 0) e else when(nullDraw < lit(p), lit(null)).otherwise(e)

  private def epochSecondsUtc(s: String): Long =
    try LocalDateTime.parse(s.replace(' ', 'T')).toEpochSecond(ZoneOffset.UTC)
    catch { case _: Exception => LocalDate.parse(s).atStartOfDay(ZoneOffset.UTC).toEpochSecond }

  private def daysBetween(start: String, end: String): Long =
    math.max(0L, math.round((epochSecondsUtc(end) - epochSecondsUtc(start)) / 86400.0))

  /** Compile one column spec to a deterministic generator expression.
    *
    * @param name column name (also salts the hash stream)
    * @param spec the field spec
    * @param seed global generator seed
    * @param id   the row-id column driving all draws
    * @param idx  extra index columns (array element position) salting draws
    */
  def columnExpr(
      name: String,
      spec: FieldSpec,
      seed: Long,
      id: Column,
      idx: Seq[Column] = Nil
  ): Column = {
    def u(salt: String): Column = uniform(seed, id, s"$name/$salt", idx)
    val value: Column = spec match {
      case IntSpec(min, max, _) => // reference: src/sqlHelpers.ts:33-36
        val span = math.max(0L, max - min)
        (lit(min) + floor(u("v") * lit(span + 1))).cast(IntegerType)
      case BigintSpec(min, max, _) => // reference: src/sqlHelpers.ts:69-73
        val span = math.max(0L, max - min)
        (lit(min) + floor(u("v") * lit(span + 1))).cast(LongType)
      case DoubleSpec(min, max, _) => // reference: src/sqlHelpers.ts:37-40,74-77
        GenExpressions.round_half_up(lit(min) + u("v") * lit(max - min), 6)
      case StringSpec(length, _) => // reference: src/sqlHelpers.ts:41-43
        // Reference takes substr(uuid-hex, 1, len), silently capping at 32
        // chars; we chain md5 blocks so the string always has `length` chars.
        GenExpressions.seeded_hex(seed, id, name, idx, length)
      case DateSpec(start, end, _) => // reference: src/sqlHelpers.ts:61-64
        val dspan = daysBetween(start, end)
        date_add(lit(start).cast(DateType), floor(u("v") * lit(dspan + 1)).cast(IntegerType))
      case TimestampSpec(start, end, _) => // reference: src/sqlHelpers.ts:58-60
        val s = epochSecondsUtc(start)
        val delta = epochSecondsUtc(end) - s
        timestamp_seconds((lit(s) + u("v") * lit(delta)).cast(LongType))
      case e @ EnumSpec(base, values, _) => // reference: src/sqlHelpers.ts:44-52
        val lits: Seq[Column] = base match {
          case EnumBase.Str    => values.map(lit(_))
          case EnumBase.Int    => values.map(v => lit(v.trim.toInt))
          case EnumBase.Bigint => values.map(v => lit(v.trim.toLong))
        }
        element_at(array(lits: _*), (floor(u("v") * lit(values.size)) + 1).cast(IntegerType))
      case ArraySpec(elem, minLen, maxLen, _) => // reference: src/sqlHelpers.ts:87-94
        val mn = math.max(0, minLen)
        val span = math.max(0, maxLen - mn)
        val nExpr = (lit(mn) + floor(u("len") * lit(span + 1))).cast(IntegerType)
        // Element i is salted with i: the first n elements are the
        // reference's `transform(sequence(1, n), x -> elem(x))`.
        def at(i: Int): Column = columnExpr(s"$name.elem", elem, seed, id, idx :+ lit(i))
        // Sliced by nExpr even for a fixed length, so the column is nullable
        // for every length spec; that is part of the stored Parquet schema.
        def drawn = slice(array((1 to mn + span).map(at): _*), lit(1), nExpr)
        // Reference parity: `sequence(1, 0)` is [1, 0] in Trino and Spark,
        // so a drawn length of 0 yields the two elements 1 and 0.
        def zeroDraw = when(nExpr === 0, array(at(1), at(0)))
        if (mn > 0) drawn
        else if (span == 0) zeroDraw // always drawn; no else, so nullable
        else zeroDraw.otherwise(drawn)
    }
    wrapNullable(value, spec.nullable, u("null")).as(name)
  }

  /** Full projection for a table config: id pass-through for `idColumn`
    * (reference: src/sqlHelpers.ts:167-177), generator expressions elsewhere. */
  def projection(cfg: TableConfig, seed: Long, id: Column): Seq[Column] =
    cfg.columns.map { case (name, spec) =>
      if (cfg.idColumn.contains(name)) id.cast(sparkTypeOf(spec)).as(name)
      else columnExpr(name, spec, seed, id)
    }
}
