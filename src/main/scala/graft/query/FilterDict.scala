package graft.query

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pinecone-style metadata filter dictionaries translated to Catalyst
  * `Column` predicates (SURVEY §1.2: the reference passes `filter_dict`
  * straight to `index.query`, `app/services/pinecone_service.py:152,174`;
  * Pinecone's public filter grammar is MongoDB-ish).
  *
  * Supported forms:
  *  - implicit equality: `{"field": value}`
  *  - operators: `{"field": {"$eq"|"$ne"|"$gt"|"$gte"|"$lt"|"$lte": v}}`,
  *    `{"field": {"$in"|"$nin": [v, ...]}}`
  *  - boolean composition: `{"$and": [f1, f2]}`, `{"$or": [f1, f2]}`
  *  - multiple keys in one map AND together (Pinecone semantics)
  *
  * The output is a plain predicate. [[graft.catalog.VectorIndex.knn]]
  * applies it over the index's materialized live snapshot before
  * scoring, and resolves it against the snapshot's schema there: an
  * unknown field or a wrongly typed operand is an
  * `IllegalArgumentException` (a 422 over HTTP).
  */
object FilterDict {

  def toColumn(filter: Map[String, Any]): Column = {
    require(filter.nonEmpty, "empty filter dict")
    filter.map { case (k, v) => clause(k, v) }.reduce(_ && _)
  }

  private def clause(key: String, value: Any): Column = key match {
    case "$and" => subFilters(value, "$and").map(toColumn).reduce(_ && _)
    case "$or"  => subFilters(value, "$or").map(toColumn).reduce(_ || _)
    case field =>
      value match {
        case ops: Map[_, _] =>
          require(ops.nonEmpty, s"empty operator object for $field")
          ops.asInstanceOf[Map[String, Any]].map {
            case ("$eq", v)  => col(field) === scalar(v, "$eq")
            case ("$ne", v)  => col(field) =!= scalar(v, "$ne")
            case ("$gt", v)  => col(field) > scalar(v, "$gt")
            case ("$gte", v) => col(field) >= scalar(v, "$gte")
            case ("$lt", v)  => col(field) < scalar(v, "$lt")
            case ("$lte", v) => col(field) <= scalar(v, "$lte")
            case ("$in", vs) => col(field).isin(values(vs, "$in"): _*)
            case ("$nin", vs) => !col(field).isin(values(vs, "$nin"): _*)
            case (op, _) =>
              throw new IllegalArgumentException(s"unsupported filter operator $op")
          }.reduce(_ && _)
        case v => col(field) === scalar(v, field)
      }
  }

  /** Operands are scalars (Pinecone: string, number, boolean); a list
    * or object where a scalar belongs is the caller's error.
    */
  private def scalar(v: Any, op: String): Column = v match {
    case _: Seq[_] | _: Map[_, _] =>
      throw new IllegalArgumentException(s"$op expects a string, number or boolean, got $v")
    case x => lit(x)
  }

  private def subFilters(value: Any, op: String): Seq[Map[String, Any]] =
    value match {
      case s: Seq[_] if s.nonEmpty =>
        s.map {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
          case other =>
            throw new IllegalArgumentException(s"$op expects filter objects, got $other")
        }
      case _ => throw new IllegalArgumentException(s"$op expects a non-empty list")
    }

  private def values(vs: Any, op: String): Seq[Column] = vs match {
    case s: Seq[_] if s.nonEmpty => s.map(scalar(_, op))
    case _ => throw new IllegalArgumentException(s"$op expects a non-empty list")
  }
}
