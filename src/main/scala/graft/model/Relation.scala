package graft.model

/** The reference's unit of data: a three-part relation
  * `catalog.schema.table` (reference relation.py:7-13, connections.py:54).
  *
  * Spark mapping: 3-level namespace `catalog.database.table`. Two reference
  * behaviors preserved:
  *  - no quoting by default (relation.py:9 — empty Policy());
  *  - case-insensitive identity (relation.py:11-13 lowercases both sides;
  *    matches Spark's default spark.sql.caseSensitive=false).
  */
final case class Relation(
    catalog: Option[String],
    schema: Option[String],
    identifier: String,
    relType: RelationType = RelationType.Table) {

  /** Render for SQL — unquoted, parts joined by '.' (relation.py:9). */
  def render: String =
    (catalog.toSeq ++ schema.toSeq :+ identifier).mkString(".")

  /** Case-insensitive match (relation.py:11-13 _is_exactish_match). */
  def matches(other: Relation): Boolean =
    catalog.map(_.toLowerCase) == other.catalog.map(_.toLowerCase) &&
      schema.map(_.toLowerCase) == other.schema.map(_.toLowerCase) &&
      identifier.toLowerCase == other.identifier.toLowerCase

  def withIdentifier(id: String): Relation = copy(identifier = id)
}

object Relation {
  def apply(identifier: String): Relation = Relation(None, None, identifier)
  def apply(schema: String, identifier: String): Relation =
    Relation(None, Some(schema), identifier)

  /** Parse `[catalog.][schema.]table`. */
  def parse(s: String): Relation = s.split('.') match {
    case Array(t) => Relation(None, None, t)
    case Array(sc, t) => Relation(None, Some(sc), t)
    case Array(c, sc, t) => Relation(Some(c), Some(sc), t)
    case _ => throw new IllegalArgumentException(s"bad relation name: $s")
  }
}

/** table | view | materialized_view (adapters.sql:35-39). Multi-word types
  * render with '_' → ' ' in DDL (adapters.sql:157-158). */
sealed abstract class RelationType(val name: String) {
  /** DDL rendering, e.g. `drop materialized view` (adapters.sql:157-158). */
  def ddl: String = name.replace('_', ' ')
}
object RelationType {
  case object Table extends RelationType("table")
  case object View extends RelationType("view")
  case object MaterializedView extends RelationType("materialized_view")
  val all: Seq[RelationType] = Seq(Table, View, MaterializedView)
  def fromString(s: String): RelationType =
    all.find(_.name == s.toLowerCase.replace(' ', '_')).getOrElse(
      throw new IllegalArgumentException(s"unknown relation type: $s"))
}
