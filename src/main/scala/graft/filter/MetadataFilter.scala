package graft.filter

import java.time.ZoneId

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Contains => ContainsExpr, Literal, Lower}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{ApiError, ChunkRow}

/**
 * The reference's metadata-filter predicate language, compiled to Catalyst
 * `Column`s (reference: app/services/search_service.py:155-197).
 *
 * Four predicate forms, dispatched on the KEY's shape:
 *   - key starts with "created_after"  => chunk.created_at >  value  (:170-174)
 *   - key starts with "created_before" => chunk.created_at <  value  (:175-178)
 *   - key ends with "_contains"        => case-insensitive substring on
 *     metadata[stripped_key]                                          (:179-187)
 *   - otherwise                        => exact equality on metadata[key] (:188-192)
 *
 * Missing metadata key => predicate is false (no match) (:182-184, :190).
 * Filters are a conjunction (ALL must match, :160-166).
 *
 * Compiling to plain `Column`s keeps the whole thing inside Catalyst:
 * the `created_*` forms push down to the Parquet scan, and the map
 * predicates stay in whole-stage codegen. [[MetadataFilter.local]] is
 * the driver-side twin the resident search path evaluates per chunk; it
 * uses Spark's own string and timestamp primitives so both paths select
 * the same chunks.
 */
sealed trait MetaPredicate {
  def toColumn(metadataCol: Column, createdAtCol: Column): Column
}

object MetaPredicate {
  final case class Eq(key: String, value: String) extends MetaPredicate {
    def toColumn(m: Column, c: Column): Column =
      element_at(m, key).isNotNull && element_at(m, key) === lit(value)
  }
  /** Case-insensitive substring; key already stripped of `_contains`. */
  final case class Contains(key: String, value: String) extends MetaPredicate {
    def toColumn(m: Column, c: Column): Column =
      element_at(m, key).isNotNull &&
        lower(element_at(m, key)).contains(lower(lit(value)))
  }
  final case class CreatedAfter(value: String) extends MetaPredicate {
    def toColumn(m: Column, c: Column): Column = c > to_timestamp(lit(value))
  }
  final case class CreatedBefore(value: String) extends MetaPredicate {
    def toColumn(m: Column, c: Column): Column = c < to_timestamp(lit(value))
  }
}

object MetadataFilter {
  import MetaPredicate._

  /** Parse a filter map using the reference's key-shape dispatch. */
  def parse(filters: Map[String, String]): Seq[MetaPredicate] =
    filters.toSeq.sortBy(_._1).map { case (key, value) =>
      if (key.startsWith("created_after")) CreatedAfter(value)
      else if (key.startsWith("created_before")) CreatedBefore(value)
      else if (key.endsWith("_contains")) Contains(key.stripSuffix("_contains"), value)
      else Eq(key, value)
    }

  /** Parse and validate a filter for the search boundary, returning the
    * driver-side twin of [[compile]]: a `created_*` value must parse as
    * a timestamp (`to_timestamp`'s own parser in the session time zone),
    * else the filter is a Validation error instead of a silent no-match.
    * String predicates compare UTF-8 bytes and lower-case through
    * Catalyst's `Lower`/`Contains`, exactly as the compiled column does. */
  def local(filters: Map[String, String], zone: ZoneId): Either[ApiError, ChunkRow => Boolean] = {
    val tests: Seq[Either[ApiError, ChunkRow => Boolean]] = parse(filters).map {
      case Eq(key, value) =>
        val v = UTF8String.fromString(value)
        Right((c: ChunkRow) => c.metadata.get(key).exists(x => x != null && UTF8String.fromString(x) == v))
      case Contains(key, value) =>
        val pattern = Lower(Literal(value)).eval()
        val expr = ContainsExpr(Lower(BoundReference(0, StringType, nullable = true)),
          Literal(pattern, StringType))
        Right((c: ChunkRow) => c.metadata.get(key).exists(x => x != null &&
          expr.eval(InternalRow(UTF8String.fromString(x))).asInstanceOf[Boolean]))
      case CreatedAfter(value) =>
        micros(value, zone).map(t => (c: ChunkRow) => DateTimeUtils.fromJavaTimestamp(c.created_at) > t)
      case CreatedBefore(value) =>
        micros(value, zone).map(t => (c: ChunkRow) => DateTimeUtils.fromJavaTimestamp(c.created_at) < t)
    }
    tests.collectFirst { case Left(e) => e }.toLeft {
      val ps = tests.collect { case Right(p) => p }
      (c: ChunkRow) => ps.forall(_(c))
    }
  }

  private def micros(value: String, zone: ZoneId): Either[ApiError, Long] =
    DateTimeUtils.stringToTimestamp(UTF8String.fromString(value), zone)
      .toRight(ApiError.Validation(s"Invalid timestamp in metadata filter: $value"))

  /** Conjunction over all predicates; empty filter matches everything. */
  def compile(filters: Map[String, String],
      metadataCol: Column, createdAtCol: Column): Column =
    parse(filters).foldLeft(lit(true)) { (acc, p) =>
      acc && p.toColumn(metadataCol, createdAtCol)
    }
}
