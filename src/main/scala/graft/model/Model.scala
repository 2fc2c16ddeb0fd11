package graft.model

/** Declarative column-spec ADT for the config-driven table generator.
  *
  * Mirrors the reference's `FieldSpec` union (reference: src/types.ts:1-29):
  * numeric kinds int/bigint/double with [min,max] ranges, fixed-length random
  * strings, date/timestamp ranges, enums over literal vocabularies, and
  * one-level arrays. `nullable` is a NULL *probability* in [0,1], not a flag
  * (reference: src/sqlHelpers.ts:28-32).
  */
sealed trait FieldSpec {
  def nullable: Double
}

/** Uniform integer in [min, max] (reference: src/types.ts:1-6). */
final case class IntSpec(min: Long, max: Long, nullable: Double = 0.0) extends FieldSpec

/** Uniform bigint in [min, max] (reference: src/types.ts:1-6, kind="bigint"). */
final case class BigintSpec(min: Long, max: Long, nullable: Double = 0.0) extends FieldSpec

/** Uniform double in [min, max), rounded to 6 decimals
  * (reference: src/types.ts:1-6 kind="double"; src/sqlHelpers.ts:37-40,74-77). */
final case class DoubleSpec(min: Double, max: Double, nullable: Double = 0.0) extends FieldSpec

/** Fixed-length random lowercase-hex string (reference: src/types.ts:7).
  *
  * The reference materializes these as `substr(uuid-hex, 1, len)` which
  * silently caps the length at 32 (src/sqlHelpers.ts:41-43); we generate the
  * full requested length by chaining hash blocks (documented deviation).
  */
final case class StringSpec(length: Int, nullable: Double = 0.0) extends FieldSpec

/** Uniform date in [start, end] at day granularity, bounds as "yyyy-MM-dd"
  * (reference: src/types.ts:8-10; src/sqlHelpers.ts:53-57,61-64). */
final case class DateSpec(start: String, end: String, nullable: Double = 0.0) extends FieldSpec

/** Uniform timestamp in [start, end) at 1-second granularity
  * (reference: src/types.ts:8-10; src/sqlHelpers.ts:58-60). */
final case class TimestampSpec(start: String, end: String, nullable: Double = 0.0)
    extends FieldSpec

/** Base type of an enum vocabulary (reference: src/types.ts:11-16). */
sealed trait EnumBase
object EnumBase {
  case object Str extends EnumBase
  case object Int extends EnumBase
  case object Bigint extends EnumBase
}

/** Uniform pick from a literal vocabulary. The enum is a *generator*, not a
  * distinct storage type — the emitted column has the base type
  * (reference: src/types.ts:11-16; src/sqlHelpers.ts:17-21,44-52). */
final case class EnumSpec(base: EnumBase, values: Seq[String], nullable: Double = 0.0)
    extends FieldSpec

/** Random-length array of generated elements; one nesting level only
  * (reference: src/types.ts:17-23 — `Exclude<FieldSpec, ArraySpec>`). */
final case class ArraySpec(element: FieldSpec, minLen: Int, maxLen: Int, nullable: Double = 0.0)
    extends FieldSpec {
  require(!element.isInstanceOf[ArraySpec], "array elements must not be arrays (one level only)")
}

/** A config-driven flat table: one logical schema plus per-codec variants
  * (reference: src/types.ts:31-40). `catalog` is retained for naming parity
  * but maps to a Spark database/namespace. */
final case class TableConfig(
    catalog: String,
    schema: String,
    tableBase: String,
    format: String = "PARQUET", // PARQUET | ORC | AVRO (src/types.ts:35)
    partitioning: Seq[String] = Nil, // Iceberg-style transform strings (src/types.ts:36)
    tableProperties: Map[String, String] = Map.empty,
    columns: Seq[(String, FieldSpec)] = Nil, // insertion-ordered, like the JS object
    idColumn: Option[String] = None // filled from the row id (src/types.ts:39)
)

/** Load plan (reference: src/config/load.ts:2-18).
  *
  * Each batch is generated and written by one task per ≤2^18 rows (the
  * generator's size-based default). The reference's Trino executes each
  * 100k-row INSERT with intra-query parallelism across all worker threads;
  * splitting each batch the same way was measured and rejected (slower and
  * more bytes per row at every scale tried — see docs/REJECTED.md). */
final case class LoadPlan(
    startId: Long = 1L,
    totalRows: Long = 1000000L,
    batchRows: Long = 100000L,
    concurrency: Int = 4,
    compactAfterLoad: Boolean = false,
    checkpointDir: String = ".checkpoints",
    includeManifestBytes: Boolean = false,
    resultsCsv: String = "results_sizes.csv"
)

/** One (codec, level) compression variant (reference: src/config/codecs.ts:3-12). */
final case class CodecSpec(codec: String, level: Int)

/** Measured size of one variant table (reference: src/types.ts:52-61). */
final case class SizeRow(
    table_name: String,
    codec: String,
    level: Int,
    rows: Long,
    data_bytes: Long,
    bytes_per_row: Double,
    manifest_bytes: Option[Long] = None,
    total_bytes: Option[Long] = None
)

/** One id-range batch of the load (reference: src/utils.ts:24-38). */
final case class Batch(index: Int, start: Long, end: Long)
