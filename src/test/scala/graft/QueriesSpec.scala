package graft

import java.sql.Timestamp
import java.time.LocalDateTime

import graft.model.Paragraph
import graft.operators.Segregate
import graft.sources.{Synth, SynthConfig}

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of individual `SparkEntry.queries` entries on small inputs. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("q_sessionize: a gap of 1800.05 s opens a new session (fractional seconds count)") {
    // both timestamp types: the fixtures' TIMESTAMP_NTZ and TIMESTAMP
    for (ntz <- Seq(true, false)) {
      def ts(s: String): Any =
        if (ntz) LocalDateTime.parse(s.replace(' ', 'T')) else Timestamp.valueOf(s)
      val rows = Seq(
        (1L, 7L, "2024-01-01 10:00:00.900"),
        (2L, 7L, "2024-01-01 10:30:00.950"), // +1800.05 s: new session
        (3L, 7L, "2024-01-01 11:00:00.940"), // +1799.99 s: same session
        (4L, 8L, "2024-01-01 10:00:00.000"),
        (5L, 8L, "2024-01-01 10:30:00.000")) // +1800 s exactly: same session
        .map { case (e, u, t) => Row(e, u, ts(t)) }
      val schema = StructType(Seq(StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts", if (ntz) TimestampNTZType else TimestampType)))
      val dir = java.nio.file.Files.createTempDirectory("q_sessionize").toString
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.parquet(s"$dir/events.parquet")
      val got = SparkEntry.queries("q_sessionize")(spark, dir)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === Seq((1L, 7L, 1L), (2L, 7L, 2L), (3L, 7L, 2L), (4L, 8L, 1L), (5L, 8L, 1L)),
        s"ts type ${schema("ts").dataType}")
    }
  }

  test("q_segregate: byte kernel at 0/0 keeps every W1 paragraph, Paragraph schema") {
    val df = SparkEntry.queries("q_segregate")(spark, "unused")
    assert(df.schema === Encoders.product[Paragraph].schema)
    val cfg = SynthConfig()
    val want = (0L until 200L)
      .flatMap(i => Segregate.segregateDoc(s"SYN/$i", "plain", Synth.spansOf(cfg, i)))
    assert(want.nonEmpty)
    assert(df.as[Paragraph].collect().toSet === want.toSet)
    assert(df.count() === want.size)
  }
}
