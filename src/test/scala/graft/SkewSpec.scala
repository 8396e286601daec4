package graft

import graft.operators.Skew

/** The key-skew profile: hot key, exact mean and max/mean ratio. */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("keySkewProfile reports the hot key, exact mean, and max/mean ratio") {
    // "aa" ×4 and "ab" ×4 tie at the max count — the smallest key
    // must win the tiebreak — plus a "z" ×2 tail
    val df = (Seq.fill(4)("aa") ++ Seq.fill(4)("ab") ++
      Seq.fill(2)("z")).toDF("k")
    val r = Skew.keySkewProfile(df, "k").collect().head
    assert(r.getLong(0) == 3L, s"n_keys: $r")          // aa, ab, z
    assert(r.getLong(1) == 10L, s"n_rows_total: $r")
    assert(r.getLong(2) == 4L, s"max_rows: $r")
    assert(r.getString(3) == "aa", s"smallest key wins the tie: $r")
    assert(r.getDouble(4) == 3.333333, s"avg_rows rounded: $r")
    assert(r.getDouble(5) == 1.2, s"skew = 4·3/10: $r")
  }
}
