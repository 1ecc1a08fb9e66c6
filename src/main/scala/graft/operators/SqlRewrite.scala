package graft.operators

/** Anchored SQL-text rewriting that FAILS LOUD on anchor drift: the
  * composed DuckDB oracles are built by patching shared CTE scaffolds
  * (`MATERIALIZED` hints, day-1 predicates) via literal string anchors.
  * A silent no-op replace — the anchor text drifted in the source CTE —
  * would not fail here; it would surface hundreds of lines away as an
  * opaque hash mismatch in a 1000-line composed oracle (or worse, as an
  * oracle that silently trains on the full corpus instead of the day-1
  * slice). Every rewrite therefore asserts its anchor matched.
  */
private[operators] object SqlRewrite {

  /** `sql.replace(anchor, replacement)` requiring ≥1 match (the
    * replacement must change the string; `replacement` containing the
    * anchor is fine — contains() is checked on the INPUT).
    */
  def replaceStrict(sql: String, anchor: String, replacement: String): String = {
    require(sql.contains(anchor),
      s"SQL rewrite anchor not found (drifted source CTE?): '$anchor'")
    sql.replace(anchor, replacement)
  }
}
