package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.etl.{LogWarehouse, ParquetWarehouse}
import Main.jstr

/** Records the expected outputs the benchmark's checks compare to.
  *
  * Every query the workloads run executes with the warehouse import
  * off and on, and the two digests must agree. Every ETL span runs on both
  * warehouse backends, and the two must agree. Disagreement fails the
  * recording instead of writing a value. */
object Record {
  def apply(spark: SparkSession, a: Main.Args, work: Path, file: String): Unit = {
    val expected = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
    val ctx = Ctx(spark, a.data, work, expected, 0L)
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val names = Workloads.corpus ++ Workloads.verbs
    def digest(name: String): Either[String, Check.Digest] =
      try Right(Check.digest(graft.SparkEntry.queries(name)(spark, a.data).collect()))
      catch { case scala.util.control.NonFatal(e) => Left(s"$name: $e") }
    val queries = names.flatMap { name =>
      sys.props.remove("graft.import")
      val off = digest(name)
      sys.props("graft.import") = "1"
      val on = digest(name)
      graft.io.ArtifactCache.retainOnly(_.startsWith("import:"))
      spark.catalog.clearCache()
      (off, on) match {
        case (Right(x), Right(y)) if x == y => Some(s"${jstr(name)}:${x.json}")
        case other =>
          problems += s"$name: $other"
          None
      }
    }
    sys.props.remove("graft.import")
    val etl = (0 until Etl.Spans).flatMap { span =>
      val c = ctx.copy(seed = span.toLong)
      val p = new Etl(c, ParquetWarehouse, verbs = false).record()
      val l = new Etl(c, LogWarehouse, verbs = false).record()
      if (p != l) { problems += s"span $span: parquet $p, log $l"; None }
      else Some(s"""${jstr(span.toString)}:{"reenriched":${p._1},"idle":${jstr(p._2)},""" +
        s""""fct_orders":${jstr(p._3)},"fct_order_items":${jstr(p._4)}}""")
    }
    problems.foreach(p => System.err.println(s"[perfbench] record: $p"))
    if (problems.nonEmpty) sys.error(s"${problems.size} recordings disagree")
    Files.writeString(Paths.get(file),
      s"""{"fixture":${jstr(Paths.get(a.data).getFileName.toString)},""" +
        s""""queries":{${queries.mkString(",\n")}},\n"etl":{${etl.mkString(",\n")}}}""" + "\n")
    println(s"[perfbench] recorded ${queries.size} queries and ${etl.size} ETL spans to $file")
  }
}
