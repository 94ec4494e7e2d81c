package graft
package catalog

/** One catalog query: its name, its Spark body and the DuckDB SQL that
  * recomputes (or, when [[pinned]], freezes) the same rows. */
final case class QuerySpec(name: String, run: SparkEntry.Q, oracle: String) {
  /** VALUES-pinned: the oracle is the expected output frozen as a
    * VALUES list (PINNED.md's class). A real recomputation may still
    * carry a VALUES seed table inside a WITH (SketchOracleSql's LSH
    * constants). */
  def pinned: Boolean =
    oracle.contains("FROM (VALUES") && !oracle.startsWith("WITH")
}
