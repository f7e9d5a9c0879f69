package graft.server

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Persisted-format lock for materialized views created from SQL text:
  * every accepted select-item form, clause and option (comments beside
  * a WHERE or GROUP BY item included) writes state whose bytes a
  * restart adopts — the definition fingerprint (`_def`, which carries
  * the WHERE text and every derived `_e<md5>` expression
  * verbatim), the state schema (`_schema`) and the canonical DDL
  * (`_ddl`). The literals below were recorded from the release that
  * first shipped these forms: a change to any of them means deployed
  * views would silently discard their state on the next RESTORE. */
class MvFormatLockSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val basis = "WITH (valid_at = '2030-01-01 00:00:00', buckets = 2"

  /** (view name, DDL text) — one view per family of forms. */
  private val ddls = Seq(
    "fl_plain" -> (s"CREATE MATERIALIZED VIEW fl_plain $basis) AS " +
      "SELECT grp, COUNT(*), SUM(amt) AS total, MIN(amt), " +
      "MAX(amt) AS mx, AVG(amt) AS av, COUNT(tag), fl_f.sub AS s " +
      "FROM fl_f GROUP BY grp, fl_f.sub"),
    "fl_expr" -> (s"CREATE MATERIALIZED VIEW fl_expr $basis, " +
      "rewrite = 'trusted') AS SELECT  grp ,  SUM( amt  *  2 )  AS  dbl, " +
      "AVG(price + 1) AS ap, COUNT(1) AS c1, SUM((amt)) AS sp, " +
      "COUNT( * ) AS n, MIN(concat(tag, 'x  y')) AS mt FROM fl_f " +
      "WHERE (amt > 0) AND tag IS NOT NULL GROUP BY grp"),
    "fl_dist" -> (s"CREATE MATERIALIZED VIEW fl_dist $basis) AS " +
      "SELECT grp, COUNT(DISTINCT tag), SUM(DISTINCT amt) AS sd, " +
      "AVG(DISTINCT amt + 1) AS ad, COUNT(DISTINCT concat('c', tag)) AS cd, " +
      "MAX(DISTINCT amt) AS md FROM fl_f WHERE amt BETWEEN 1 AND 90 " +
      "GROUP BY grp"),
    "fl_filter" -> (s"CREATE MATERIALIZED VIEW fl_filter $basis) AS " +
      "SELECT grp, SUM(amt) FILTER (WHERE tag = 'x') AS sx, " +
      "COUNT(*) FILTER (WHERE (amt > 1)) AS cx, " +
      "COUNT(DISTINCT tag) FILTER (WHERE amt BETWEEN 1 AND 50) AS dx, " +
      "PERCENTILE_CONT(amt, 0.5) FILTER (WHERE tag <> 'y') AS px " +
      "FROM fl_f GROUP BY grp"),
    "fl_sketch" -> (s"CREATE MATERIALIZED VIEW fl_sketch $basis) AS " +
      "SELECT grp, APPROX_COUNT_DISTINCT(tag), " +
      "APPROX_COUNT_DISTINCT(concat(tag, grp)) AS ac, MEDIAN(amt), " +
      "PERCENTILE_CONT(amt, 0.25) AS p25, PERCENTILE(amt, .75) AS p75, " +
      "APPROX_PERCENTILE(amt, 0.9) AS ap90 FROM fl_f GROUP BY grp"),
    "fl_var" -> (s"CREATE MATERIALIZED VIEW fl_var $basis) AS " +
      "SELECT grp, VARIANCE(amt), VAR_POP(amt) AS vp, VAR_SAMP(price) AS vs, " +
      "STDDEV(amt * 2) AS sd, STDDEV_POP(amt) AS sp, STDDEV_SAMP(amt) AS ss " +
      "FROM fl_f GROUP BY grp"),
    "fl_gexpr" -> (s"CREATE MATERIALIZED VIEW fl_gexpr $basis) AS " +
      "SELECT date_trunc('month', at) AS m, grp, COUNT(*) AS n, " +
      "SUM(amt) AS s FROM fl_f GROUP BY date_trunc('month', at), grp " +
      "HAVING n > 0"),
    "fl_star" -> (s"CREATE MATERIALIZED VIEW fl_star $basis) AS " +
      "SELECT region, grp, COUNT(*) AS n, SUM(amt) AS s, " +
      "COUNT(DISTINCT tag) AS dt FROM fl_f JOIN fl_d ON fk = fl_d._id " +
      "WHERE tier > 0 GROUP BY region, grp"),
    "fl_left" -> (s"CREATE MATERIALIZED VIEW fl_left $basis) AS " +
      "SELECT region, COUNT(*) AS n, MAX(price) AS mp FROM fl_f " +
      "LEFT OUTER JOIN fl_d ON fl_d._id = fk GROUP BY region"),
    // comments beside a WHERE predicate or a GROUP BY item are part of
    // its persisted text
    "fl_cmt" -> (s"CREATE MATERIALIZED VIEW fl_cmt $basis) AS " +
      "SELECT grp, COUNT(*) AS n, SUM(amt) AS s FROM fl_f " +
      "WHERE /* live */ amt > 0 AND (tag <> 'z') /* not z */ -- positive\n" +
      "GROUP BY grp"),
    "fl_gcmt" -> (s"CREATE MATERIALIZED VIEW fl_gcmt $basis) AS " +
      "SELECT COUNT(*) AS n, SUM(amt) AS s FROM fl_f " +
      "GROUP BY grp, /* bucket */ sub -- sub-bucket"),
    "fl_bk" -> (s"CREATE MATERIALIZED VIEW fl_bk $basis, " +
      "bucket_key = 'grp') AS SELECT grp, sub, COUNT(*) AS n, " +
      "SUM(amt) AS s FROM fl_f GROUP BY grp, sub"))

  /** Every sidecar under each view's state dir (aux pair states
    * included): relative path -> file text; a `_schema` renders as its
    * `name:type` column list. */
  private def sidecars(tableDirs: Seq[String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    tableDirs.flatMap { d =>
      Seq("matview", "join_matview").flatMap { kind =>
        val root = java.nio.file.Paths.get(d, kind)
        if (!java.nio.file.Files.isDirectory(root)) Nil
        else {
          val walk = java.nio.file.Files.walk(root)
          try walk.iterator().asScala.toList
            .filter(p => Set("_def", "_schema", "_ddl")
              .contains(p.getFileName.toString))
            .map { p =>
              val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
              root.relativize(p).toString -> (
                if (p.getFileName.toString != "_schema") text
                else org.apache.spark.sql.types.DataType.fromJson(text)
                  .asInstanceOf[org.apache.spark.sql.types.StructType]
                  .fields.map(f => s"${f.name}:${f.dataType.typeName}")
                  .mkString(","))
            }
          finally walk.close()
        }
      }
    }.toMap
  }

  test("every accepted view form persists the recorded _def, _schema " +
      "and _ddl bytes") {
    val s = spark
    import s.implicits._
    def fresh(payload: Seq[String]) = new graft.GraftTable(spark,
      java.nio.file.Files.createTempDirectory("mv_lock").toString, payload)
    val fact = fresh(Seq("grp", "sub", "tag", "amt", "price", "at", "fk"))
    val dim = fresh(Seq("region", "tier"))
    GraftServer.register("fl_f", fact)
    GraftServer.register("fl_d", dim)
    try {
      dim.put(Seq((1L, "eu", 1L), (2L, "us", 0L)).toDF("id", "r", "t"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r", "tier" -> $"t"), ts("2024-01-01 00:00:00"))
      fact.put(Seq(
          (1L, "a", "p", "x", 10L, "1.50", "2024-01-05 10:00:00", 1L),
          (2L, "a", "q", "y", 40L, "2.25", "2024-02-05 10:00:00", 2L),
          (3L, "b", "p", "x", 70L, "9.00", "2024-02-06 10:00:00", 1L))
          .toDF("id", "g", "u", "tg", "m", "pr", "ts", "k"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "sub" -> $"u", "tag" -> $"tg", "amt" -> $"m",
          "price" -> $"pr".cast("decimal(12,2)"),
          "at" -> $"ts".cast("timestamp"), "fk" -> $"k"),
        ts("2024-03-01 00:00:00"))
      ddls.foreach { case (_, ddl) => GraftSql.sql(spark, ddl).collect() }
      val got = sidecars(Seq(fact.tableDir, dim.tableDir))
      val diffs = (got.keySet ++ expected.keySet).toSeq.sorted
        .filter(k => got.get(k) != expected.get(k))
      assert(diffs.isEmpty, "persisted bytes drifted:\n" + diffs.map(k =>
        s"  ${quote(k)} -> ${got.get(k).map(quote).getOrElse("<missing>")}" +
          s"  (recorded: ${expected.get(k).map(quote).getOrElse("<none>")})")
        .mkString("\n"))
    } finally {
      GraftServer.unregister("fl_f"); GraftServer.unregister("fl_d")
      GraftMatviews.reset()
    }
  }

  /** A Scala string literal of `s`, so a drift report pastes back. */
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    } + "\""

  private val expected: Map[String, String] = Map(
    "fl_cmt/_ddl" ->
      ("CREATE MATERIALIZED VIEW fl_cmt WITH (valid_at = " +
       "'2030-01-01 00:00:00.0', buckets = 2) AS SELECT grp, " +
       "COUNT(*) AS n, SUM(amt) AS s FROM fl_f WHERE /* live */ " +
       "amt > 0 AND (tag <> 'z') /* not z */ -- positive\nGROUP BY grp"),
    "fl_cmt/_def" ->
      "e59a3a2b60a9dbc4d1d5de2a73f19d47",
    "fl_cmt/_schema" ->
      "grp:string,n:long,sum_amt:long,cnt_amt:long,_bucket:long",
    "fl_gcmt/_ddl" ->
      ("CREATE MATERIALIZED VIEW fl_gcmt WITH (valid_at = " +
       "'2030-01-01 00:00:00.0', buckets = 2) AS SELECT COUNT(*) AS n, " +
       "SUM(amt) AS s FROM fl_f GROUP BY grp, /* bucket */ sub -- sub-bucket"),
    "fl_gcmt/_def" ->
      "ab35c9ecdeadf71c68dc1780f31643bc",
    // the commented item is a derived key, named by its whole slice
    "fl_gcmt/_schema" ->
      ("grp:string,_e6cce83df8c9376b1:string,n:long,sum_amt:long," +
       "cnt_amt:long,_bucket:long"),
    "fl_bk/_ddl" ->
      ("CREATE MATERIALIZED VIEW fl_bk WITH (valid_at = '2030-01-01 " +
       "00:00:00.0', buckets = 2, bucket_key = 'grp') AS SELECT grp," +
       " sub, COUNT(*) AS n, SUM(amt) AS s FROM fl_f GROUP BY grp, " +
       "sub"),
    "fl_bk/_def" ->
      "dd56f1b0fe972f7c0b7648bcf54272e7",
    "fl_bk/_schema" ->
      ("grp:string,sub:string,n:long,sum_amt:long,cnt_amt:long," +
       "_bucket:long"),
    "fl_dist/_ddl" ->
      ("CREATE MATERIALIZED VIEW fl_dist WITH (valid_at = " +
       "'2030-01-01 00:00:00.0', buckets = 2) AS SELECT grp, " +
       "COUNT(DISTINCT tag), SUM(DISTINCT amt) AS sd, AVG(DISTINCT " +
       "amt + 1) AS ad, COUNT(DISTINCT concat('c', tag)) AS cd, " +
       "MAX(DISTINCT amt) AS md FROM fl_f WHERE amt BETWEEN 1 AND " +
       "90 GROUP BY grp"),
    "fl_dist/_def" ->
      "e4134f5152f0bf7e280d9929f2efdc1e",
    "fl_dist/_dist/_e0d04cef47780827d/_def" ->
      "90447fb4b3b5323985a6bf9aafa25187",
    "fl_dist/_dist/_e0d04cef47780827d/_schema" ->
      "grp:string,_e0d04cef47780827d:long,n:long,_bucket:long",
    "fl_dist/_dist/_e7dac6c708ec97c9a/_def" ->
      "29c1a66a10570a92c4aed59f1bf1f704",
    "fl_dist/_dist/_e7dac6c708ec97c9a/_schema" ->
      "grp:string,_e7dac6c708ec97c9a:string,n:long,_bucket:long",
    "fl_dist/_dist/amt/_def" ->
      "ffb1c00adabb8abbf68fbc9519ba4616",
    "fl_dist/_dist/amt/_schema" ->
      "grp:string,amt:long,n:long,_bucket:long",
    "fl_dist/_dist/tag/_def" ->
      "cedc63d5285daa350b7eeed1ad0cb418",
    "fl_dist/_dist/tag/_schema" ->
      "grp:string,tag:string,n:long,_bucket:long",
    "fl_dist/_schema" ->
      ("grp:string,n:long,max_amt:long,_bucket:long,cntd_tag:long," +
       "cntd_amt:long,sumd_amt:long,cntd__e0d04cef47780827d:long," +
       "sumd__e0d04cef47780827d:long,cntd__e7dac6c708ec97c9a:long"),
    "fl_expr/_ddl" ->
      ("CREATE MATERIALIZED VIEW fl_expr WITH (valid_at = " +
       "'2030-01-01 00:00:00.0', buckets = 2, rewrite = 'trusted') " +
       "AS SELECT  grp ,  SUM( amt  *  2 )  AS  dbl, AVG(price + 1) " +
       "AS ap, COUNT(1) AS c1, SUM((amt)) AS sp, COUNT( * ) AS n, " +
       "MIN(concat(tag, 'x  y')) AS mt FROM fl_f WHERE (amt > 0) " +
       "AND tag IS NOT NULL GROUP BY grp"),
    "fl_expr/_def" ->
      "8cc5440be8c4bf4345537dcb0148433e",
    "fl_expr/_schema" ->
      ("grp:string,n:long,sum__e89a61b7dc7c41511:long," +
       "sum__e430bd5ad811e2da1:decimal(23,2)," +
       "sum__eaa410b2845cae07c:long,cnt__e89a61b7dc7c41511:long," +
       "cnt__e430bd5ad811e2da1:long,cnt__ec4ca4238a0b92382:long," +
       "cnt__eaa410b2845cae07c:long,min__eddcbf75925a37cdd:string," +
       "_bucket:long"),
    "fl_filter/_ddl" ->
      ("CREATE MATERIALIZED VIEW fl_filter WITH (valid_at = " +
       "'2030-01-01 00:00:00.0', buckets = 2) AS SELECT grp, " +
       "SUM(amt) FILTER (WHERE tag = 'x') AS sx, COUNT(*) FILTER " +
       "(WHERE (amt > 1)) AS cx, COUNT(DISTINCT tag) FILTER (WHERE " +
       "amt BETWEEN 1 AND 50) AS dx, PERCENTILE_CONT(amt, 0.5) " +
       "FILTER (WHERE tag <> 'y') AS px FROM fl_f GROUP BY grp"),
    "fl_filter/_def" ->
      "f99fbf13a870e70f7fadf43074001ca2",
    "fl_filter/_dist/_ea56853aa65d2ce86/_def" ->
      "73e30efbfa963eddd70c12b8b0d8757c",
    "fl_filter/_dist/_ea56853aa65d2ce86/_schema" ->
      "grp:string,_ea56853aa65d2ce86:string,n:long,_bucket:long",
    "fl_filter/_schema" ->
      ("grp:string,n:long,sum__efc61d1163abe2ada:long," +
       "cnt__efc61d1163abe2ada:long,cnt__e4886434aa8fb4c88:long," +
       "pct_5000__e7c5aa56d9b69a818:double,_bucket:long," +
       "cntd__ea56853aa65d2ce86:long"),
    "fl_gexpr/_ddl" ->
      ("CREATE MATERIALIZED VIEW fl_gexpr WITH (valid_at = " +
       "'2030-01-01 00:00:00.0', buckets = 2) AS SELECT " +
       "date_trunc('month', at) AS m, grp, COUNT(*) AS n, SUM(amt) " +
       "AS s FROM fl_f GROUP BY date_trunc('month', at), grp HAVING " +
       "n > 0"),
    "fl_gexpr/_def" ->
      "77af64d4c944719bb93e625ef4ce93df",
    "fl_gexpr/_schema" ->
      ("_e59d4e6fa78e9278c:timestamp,grp:string,n:long,sum_amt:long," +
       "cnt_amt:long,_bucket:long"),
    "fl_left/_ddl" ->
      ("CREATE MATERIALIZED VIEW fl_left WITH (valid_at = " +
       "'2030-01-01 00:00:00.0', buckets = 2) AS SELECT region, " +
       "COUNT(*) AS n, MAX(price) AS mp FROM fl_f LEFT OUTER JOIN " +
       "fl_d ON fl_d._id = fk GROUP BY region"),
    "fl_left/_def" ->
      "60cea0b2f1a049130104ffe0d82ee1ba",
    "fl_left/_schema" ->
      "region:string,n:long,max_price:decimal(12,2),_bucket:long",
    "fl_plain/_ddl" ->
      ("CREATE MATERIALIZED VIEW fl_plain WITH (valid_at = " +
       "'2030-01-01 00:00:00.0', buckets = 2) AS SELECT grp, " +
       "COUNT(*), SUM(amt) AS total, MIN(amt), MAX(amt) AS mx, " +
       "AVG(amt) AS av, COUNT(tag), fl_f.sub AS s FROM fl_f GROUP " +
       "BY grp, fl_f.sub"),
    "fl_plain/_def" ->
      "7cec8f3a67b86a7c2c16333f44ca2698",
    "fl_plain/_schema" ->
      ("grp:string,sub:string,n:long,sum_amt:long,cnt_amt:long," +
       "cnt_tag:long,min_amt:long,max_amt:long,_bucket:long"),
    "fl_sketch/_ddl" ->
      ("CREATE MATERIALIZED VIEW fl_sketch WITH (valid_at = " +
       "'2030-01-01 00:00:00.0', buckets = 2) AS SELECT grp, " +
       "APPROX_COUNT_DISTINCT(tag), " +
       "APPROX_COUNT_DISTINCT(concat(tag, grp)) AS ac, MEDIAN(amt), " +
       "PERCENTILE_CONT(amt, 0.25) AS p25, PERCENTILE(amt, .75) AS " +
       "p75, APPROX_PERCENTILE(amt, 0.9) AS ap90 FROM fl_f GROUP BY " +
       "grp"),
    "fl_sketch/_def" ->
      "ba7758dc5a56158ca1f76a821d9a1048",
    "fl_sketch/_schema" ->
      ("grp:string,n:long,hll_tag:binary," +
       "hll__e5ce2b6af2711d6bf:binary,pct_5000_amt:double," +
       "pct_2500_amt:double,pct_7500_amt:double," +
       "apct_9000_amt:double,_bucket:long"),
    "fl_star/_ddl" ->
      ("CREATE MATERIALIZED VIEW fl_star WITH (valid_at = " +
       "'2030-01-01 00:00:00.0', buckets = 2) AS SELECT region, grp," +
       " COUNT(*) AS n, SUM(amt) AS s, COUNT(DISTINCT tag) AS dt " +
       "FROM fl_f JOIN fl_d ON fk = fl_d._id WHERE tier > 0 GROUP " +
       "BY region, grp"),
    "fl_star/_def" ->
      "4f4c9e7bb858565677f2c05391cd9688",
    "fl_star/_dist/tag/_def" ->
      "515cccb67581b78dca4d3119074c4ca9",
    "fl_star/_dist/tag/_schema" ->
      "region:string,grp:string,tag:string,n:long,_bucket:long",
    "fl_star/_schema" ->
      ("region:string,grp:string,n:long,sum_amt:long,cnt_amt:long," +
       "_bucket:long,cntd_tag:long"),
    "fl_var/_ddl" ->
      ("CREATE MATERIALIZED VIEW fl_var WITH (valid_at = " +
       "'2030-01-01 00:00:00.0', buckets = 2) AS SELECT grp, " +
       "VARIANCE(amt), VAR_POP(amt) AS vp, VAR_SAMP(price) AS vs, " +
       "STDDEV(amt * 2) AS sd, STDDEV_POP(amt) AS sp, " +
       "STDDEV_SAMP(amt) AS ss FROM fl_f GROUP BY grp"),
    "fl_var/_def" ->
      "4fe706040535113b3be22f7e734d6edc",
    "fl_var/_schema" ->
      ("grp:string,n:long,sum_amt:long,sum__eb84409cc20f6a16b:long," +
       "sum_price:decimal(22,2),sum__e1992c53a3b8738f2:decimal(35," +
       "4),sum__e89a61b7dc7c41511:long,sum__ed2cff39d191c7341:long," +
       "cnt_amt:long,cnt_price:long,cnt__e89a61b7dc7c41511:long," +
       "_bucket:long"))
}
