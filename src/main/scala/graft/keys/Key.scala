package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver key: its name, the Spark query it builds and its DuckDB
  * oracle, written side by side in its family's file. A key is correct
  * when its rows match its oracle's.
  *
  * The oracle is built only when it is asked for, from the
  * [[OracleFragments]] it uses. A parity key, whose rows equal another
  * key's by construction (a stream replay, or a different physical
  * strategy for the same result), passes its twin's [[sql]] as its own.
  */
private[graft] final class Key private (val name: String,
    val build: (SparkSession, String) => DataFrame, source: () => String) {

  /** The oracle as written, before [[OracleFragments.flat]]. */
  def sql: String = source()

  /** The oracle as it ships: built on each call, then flattened. */
  def oracle: String = OracleFragments.flat(source())
}

private[graft] object Key {

  def apply(name: String)(build: (SparkSession, String) => DataFrame)(
      sql: => String): Key = new Key(name, build, () => sql)

  /** The family lists as one map by name. A name listed twice throws,
    * naming it: a second entry would otherwise silently replace the
    * first. So does a name that another family's prefixes claim, or
    * that its own family's do not. */
  def registry(families: Seq[Family]): Map[String, Key] = {
    val all = families.flatMap(f => f.keys.map(f -> _))
    val twice = all.groupBy(_._2.name).collect { case (n, ks) if ks.size > 1 => n }
    require(twice.isEmpty, s"key listed twice: ${twice.toSeq.sorted.mkString(", ")}")
    val misplaced = all.collect {
      case (f, k) if families.filter(_.owns(k.name)) != Seq(f) => k.name
    }
    require(misplaced.isEmpty,
      s"key outside its family's prefixes: ${misplaced.sorted.mkString(", ")}")
    all.map { case (_, k) => k.name -> k }.toMap
  }
}

/** One family file's keys: those whose names start with one of
  * `prefixes`. The list is built on first use, so looking up one key's
  * oracle builds only the entries of the family that owns its name. */
private[graft] abstract class Family(prefixes: String*) {
  def keys: Seq[Key]
  def owns(name: String): Boolean = prefixes.exists(name.startsWith)
}
