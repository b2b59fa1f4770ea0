package graft.query

import org.apache.spark.sql.{AnalysisException, Column}
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
  * analyzes it against the index's live snapshot and evaluates it per
  * row inside its fused top-k. A caller error — a field Spark cannot
  * parse as a column name, an unknown field, a wrongly typed operand —
  * is an `IllegalArgumentException` (a 422 over HTTP).
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
      val c = try col(field) catch { case e: AnalysisException => // such as a`b
        throw new IllegalArgumentException(s"invalid filter field $field: ${e.getMessage}", e) }
      value match {
        case ops: Map[_, _] =>
          require(ops.nonEmpty, s"empty operator object for $field")
          ops.asInstanceOf[Map[String, Any]].map {
            case ("$eq", v)  => c === scalar(v, "$eq")
            case ("$ne", v)  => c =!= scalar(v, "$ne")
            case ("$gt", v)  => c > scalar(v, "$gt")
            case ("$gte", v) => c >= scalar(v, "$gte")
            case ("$lt", v)  => c < scalar(v, "$lt")
            case ("$lte", v) => c <= scalar(v, "$lte")
            case ("$in", vs) => c.isin(values(vs, "$in"): _*)
            case ("$nin", vs) => !c.isin(values(vs, "$nin"): _*)
            case (op, _) =>
              throw new IllegalArgumentException(s"unsupported filter operator $op")
          }.reduce(_ && _)
        case v => c === scalar(v, field)
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
