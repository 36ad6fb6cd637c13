package graft.tools

import graft.functions.SplitMix.mix64
import graft.queries.XxhSql
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Emits the DuckDB XXH64/splitmix64 emulation SQL plus the engine's own
  * expected values for a battery of edge-length strings, so the generated
  * SQL can be validated offline (`python3 -c "import duckdb; ..."`)
  * against the exact kernels the oracle must match. Not part of the
  * library surface — a builder tool.
  */
object XxhSqlSelfTest {
  def main(args: Array[String]): Unit = {
    val cases: Seq[String] =
      Seq("", "a", "ab", "abc", "0123456", "01234567", "012345678",
        "0123456789ab", "the quick brown", "0123456789abcde",
        "0123456789abcdef", "0123456789abcdefg",
        "a" * 31, "b" * 32, "c" * 33, "d" * 39, "e" * 40, "f" * 63,
        "g" * 64, "h" * 65, "word one two three four five six seven eight nine") ++
        (1 to 30).map(i => s"shingle number $i with words")
    val named = cases.zipWithIndex.map { case (s, i) => (i, s) }

    def xxh(s: String): Long = {
      val b = s.getBytes(StandardCharsets.US_ASCII)
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }

    val values = named.map { case (i, s) => s"($i, '${s.replace("'", "''")}')" }.mkString(",\n  ")
    val inner = s"SELECT id, s FROM (VALUES\n  $values) t(id, s)"
    val sql = "SELECT id, " + XxhSql.toUnsigned("NULL") + " IS NULL AS _d, hu FROM (" +
      XxhSql.xxh64Over(inner, Seq("id")) + ") ORDER BY id"
    // expected: id,signedHash,mix64(signedHash + GOLDEN*3)
    val expected = named.map { case (i, s) =>
      val h = xxh(s)
      s"$i,$h,${mix64(h + 0x9E3779B97F4A7C15L * 3)}"
    }.mkString("\n")
    Files.writeString(Paths.get("/tmp/xxh_selftest.sql"), sql)
    Files.writeString(Paths.get("/tmp/xxh_expected.csv"), expected + "\n")
    // lane test: k=3 signature over single-hash lists — sig[3] must equal
    // mix64(h + GOLDEN*3); simhash test: fingerprint of the single-token
    // multiset with count 1 per id
    val sigSql =
      s"""WITH hashes AS (${XxhSql.xxh64Over(inner, Seq("id"))}),
         | grouped AS (SELECT id, list(hu) AS hl FROM hashes GROUP BY id)
         |SELECT id, (${XxhSql.sigExpr(3)})[3] AS lane FROM grouped ORDER BY id""".stripMargin
    Files.writeString(Paths.get("/tmp/xxh_sig_test.sql"), sigSql)
    val simSql =
      s"""WITH hashes AS (${XxhSql.xxh64Over(inner, Seq("id"))}),
         | grouped AS (SELECT id, list(struct_pack(u := hu, c := 1::BIGINT)) AS tl FROM hashes GROUP BY id)
         |SELECT id, ${XxhSql.simhashExpr} AS fp FROM grouped ORDER BY id""".stripMargin
    Files.writeString(Paths.get("/tmp/xxh_sim_test.sql"), simSql)
    val simExpected = named.map { case (i, s) =>
      // single token votes: bit j of fp = bit j of hash (count 1 > 0 iff bit set)
      s"$i,${xxh(s)}"
    }.mkString("\n")
    Files.writeString(Paths.get("/tmp/xxh_sim_expected.csv"), simExpected + "\n")
    println(s"wrote /tmp/xxh_selftest.sql (${sql.length} chars), sig/sim tests, expected CSVs")
  }
}
