package graft

import graft.cdc.{CdcFixtures, Envelope}
import org.apache.spark.sql.functions._

class EnvelopeSpec extends SparkSpec {
  import CdcFixtures._

  private def parse(jsons: Seq[String]) = {
    import spark.implicits._
    Envelope.flatten(jsons.toDF("raw_message"))
  }

  private val img = SaleImage(1, "Phone", "Electronics", "499", 2, 19800, 1718000000123456L)

  test("create op: after image extracted, before null") {
    val row = parse(Seq(toJson(CdcOp("c", None, Some(img), 1718000000123L, 7L, 42L)))).first()
    assert(row.getAs[Int]("after_id") == 1)
    assert(row.getAs[String]("after_product_name") == "Phone")
    assert(row.getAs[String]("after_price") == "499") // string, not double (§7.4.8)
    assert(row.getAs[Int]("after_sale_date") == 19800)
    assert(row.isNullAt(row.fieldIndex("before_id")))
    assert(row.getAs[String]("op") == "c")
    assert(row.getAs[Long]("lsn") == 42L)
    assert(row.getAs[Long]("txId") == 7L)
  }

  test("event_timestamp truncates millis to second precision (F9)") {
    val df = parse(Seq(
      toJson(CdcOp("c", None, Some(img), 1718000000999L, 1, 1)),
      toJson(CdcOp("u", Some(img), Some(img), 1718000000001L, 2, 2))))
    val ts = df.select("event_timestamp").collect().map(_.getTimestamp(0)).distinct
    assert(ts.length == 1, "both millis must truncate to the same second")
    assert(ts.head.toInstant == java.time.Instant.ofEpochSecond(1718000000L))
  }

  test("delete op: before image extracted, after null") {
    val row = parse(Seq(toJson(CdcOp("d", Some(img), None, 1718000001000L, 8, 43)))).first()
    assert(row.getAs[Int]("before_id") == 1)
    assert(row.isNullAt(row.fieldIndex("after_id")))
  }

  test("missing-op envelopes and malformed JSON are dropped") {
    val good = Seq(toJson(CdcOp("c", None, Some(img), 1718000000000L, 1, 1)))
    val noisy = withNoise(good, seed = 7)
    assert(noisy.size == good.size + 4)
    assert(parse(noisy).count() == 1)
  }

  test("bronze shaping: op whitelist + dt partition key (F10)") {
    val df = Envelope.toBronze(parse(Seq(
      toJson(CdcOp("c", None, Some(img), 1718000000000L, 1, 1)),
      toJson(CdcOp("x", None, Some(img), 1718000000000L, 1, 2)))))
    val rows = df.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("dt") == "2024-06-10")
  }

  test("bronzeSchema is the schema toBronze writes, and reads a bronze dir back") {
    def shape(t: org.apache.spark.sql.types.StructType) = t.fields.toSeq.map(f => (f.name, f.dataType))
    val bronze = Envelope.toBronze(parse(Seq(
      toJson(CdcOp("c", None, Some(img), 1718000000000L, 1, 1)),
      toJson(CdcOp("d", Some(img), None, 1718000001000L, 2, 2)))))
    assert(shape(bronze.schema) == shape(Envelope.bronzeSchema))
    val dir = java.nio.file.Files.createTempDirectory("bronze").toString + "/b"
    bronze.write.partitionBy("dt").parquet(dir)
    // the declared schema keeps `dt` the string toBronze wrote, where
    // footer inference would have guessed a date from the directory name
    val typed = spark.read.schema(Envelope.bronzeSchema).parquet(dir)
    assert(typed.orderBy("lsn").collect().toSeq == bronze.orderBy("lsn").collect().toSeq)
  }

  test("fixture stream is deterministic for a seed") {
    val a = randomStream(seed = 11, nKeys = 5, nOps = 50).map(toJson)
    val b = randomStream(seed = 11, nKeys = 5, nOps = 50).map(toJson)
    assert(a == b)
    assert(randomStream(12, 5, 50).map(toJson) != a)
  }
}
