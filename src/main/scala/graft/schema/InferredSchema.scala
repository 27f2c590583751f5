package graft.schema

import graft.types.AType

/** Ordered field->type schema with the reference's config semantics
  * (mongo2pq/schema.py:17-84; the merge is
  * [[SchemaInference.combine]]). Immutable; every operation
  * returns a new schema. Field order is load-bearing: the rename
  * collision suffix `_N` is assigned in schema field order
  * (schema.py:76-79, SURVEY.md §7.4.5).
  */
final case class InferredSchema(
    name: String,
    fields: Vector[(String, AType)],
    renameMap: Map[String, String] = Map.empty) {

  def fieldMap: Map[String, AType] = fields.toMap

  /** Apply config rules for this collection (mongo2pq/schema.py:55-84):
    * per field, at most one retype (first matching rule whose type
    * differs) and one rename (first rule whose function changes the
    * name); rename collisions get `_1`, `_2`, ... suffixes probed
    * against the *current* schema names.
    *
    * Divergence note: when a rename rule precedes a matching retype
    * rule for the same field, the reference looks the field up by its
    * pre-rename name after the rename already applied and crashes
    * (schema.py:67-68 KeyError path); this engine tests retype rules
    * against the field's current name instead — the evident intent. */
  def useConfig(rules: Seq[graft.config.SchemaRule]): InferredSchema = {
    import graft.config.{RetypeRule, RenameRule}
    val cur = scala.collection.mutable.ArrayBuffer.from(fields)
    val renames = scala.collection.mutable.Map.empty[String, String]
    for (index <- cur.indices) {
      val originalName = cur(index)._1
      var retyped = false
      var renamed = false
      rules.foreach {
        case RetypeRule(test, tpe) if !retyped =>
          val (fname, ftype) = cur(index)
          if (test(fname) && ftype != tpe) {
            cur(index) = (fname, tpe)
            retyped = true
          }
        case RenameRule(f) if !renamed =>
          val (fname, ftype) = cur(index)
          val base = f(fname)
          if (base != fname) {
            var newName = base
            var increment = 1
            while (cur.exists(_._1 == newName)) {
              newName = s"${base}_$increment"
              increment += 1
            }
            cur(index) = (newName, ftype)
            renames(originalName) = newName
            renamed = true
          }
        case _ => ()
      }
    }
    InferredSchema(name, cur.toVector, renameMap ++ renames)
  }
}
