package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Records the expected result of every statement and grid point at one
  * scale factor: `<out>/<sf>.tsv` (id, check, rows, hash) plus, for each
  * hash-checked read, its rows as parquet and its oracle SQL under
  * `<out>/oracle-<sf>/` in the layout tools/local_oracle.py reads.
  * perfbench/record.py drives this and keeps only what DuckDB confirms. */
object Record {

  /** Every statement and grid point of the workloads at `sf`. */
  def statements(sf: String): Seq[Stmt] =
    Seq("analytics", "sql_text").filter(Workloads.scale(_) == sf)
      .flatMap(Workloads.families).flatMap(_.points).distinctBy(_.id)

  def oracleOf(id: String): Option[String] = id.split("[:@]") match {
    case Array("session", "prepare_execute", v) => Some(Workloads.preparedOracle(v.toInt))
    case Array(name) => SparkEntry.oracleSql.get(name)
    case Array(_, name) => SparkEntry.oracleSql.get(name)
    case _ => None
  }

  def safe(id: String): String = id.replaceAll("[^A-Za-z0-9_.-]", "_")

  def run(spark: SparkSession, dir: String, sf: String, work: Path, out: Path): Int = {
    val ctx = new Ctx(spark, dir, new Tracer(false), work)
    val dump = out.resolve(s"oracle-$sf")
    Files.createDirectories(dump)
    val lines = Seq.newBuilder[String]
    val oracle = new java.util.LinkedHashMap[String, String]()
    def hashOf(stmt: Stmt): Option[Drained] =
      try Some(stmt.run(ctx)) catch { case e: Exception =>
        System.err.println(s"[record] ${stmt.id} failed: ${e.getMessage}")
        None
      }
    statements(sf).foreach { s =>
      val got = hashOf(s)
      // an oracle text is kept only when it reproduces the result of its
      // oracle-gated builder
      val agrees = s.id.startsWith("sql:") && got.isDefined && {
        val b = hashOf(Workloads.builder(s.id.stripPrefix("sql:")))
        b.exists(x => x.rows == got.get.rows && x.hash == got.get.hash)
      }
      got.filter(_ => !s.id.startsWith("sql:") || agrees).foreach { g =>
        val oracleSql = oracleOf(s.id)
        val check = if (oracleSql.isDefined || s.kind == Write) "hash" else "rows"
        lines += s"${s.id}\t$check\t${g.rows}\t${g.hash}"
        (g, oracleSql) match {
          case (r: RowsDrained, Some(sql)) =>
            spark.createDataFrame(r.data.toSeq.asJava, r.schema).repartition(1)
              .write.mode("overwrite").parquet(dump.resolve(safe(s.id)).toString)
            oracle.put(safe(s.id), sql)
          case _ =>
        }
      }
      if (s.id.startsWith("sql:") && got.isDefined && !agrees)
        System.err.println(s"[record] ${s.id} differs from its builder")
    }
    Files.write(out.resolve(s"$sf.tsv"), lines.result().asJava)
    Files.writeString(dump.resolve("oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(oracle))
    0
  }
}
