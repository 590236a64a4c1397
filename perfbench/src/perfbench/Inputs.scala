package perfbench

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.pages.{Extract, PagesGen}

/** Benchmark inputs, built from PagesGen's public name and page
  * functions over an entity range that starts at a seed-derived
  * offset. Rows are made on the driver and handed to the engine as a
  * local DataFrame, so the inputs live in the plan and no cache entry
  * is needed to keep them between timed operations. */
object Inputs {

  /** Entities below this index get injective adjective/noun base names
    * with no "District N" suffix (PagesGen.entityBaseName's combo
    * space), so every seed draws from the same dense vocabulary. */
  val Combos: Long = 36L * 30 * 31

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** First entity of the seed's range of `n` entities. */
  def firstEntity(seed: Long, n: Long): Long = Math.floorMod(mix(seed), Combos - n)

  private val langs = Array("en", "en", "en", "en", "en", "en", "en", "en", "de", "ja")

  private val pageSchema = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", BinaryType), StructField("text", StringType),
    StructField("lang", StringType)))

  /** The `pages` table: `perEntity` pages per entity, each carrying
    * one company-name mention (variant v of entity e). The entity id
    * is recoverable from the url (PagesGen.entityOf). */
  def pages(spark: SparkSession, first: Long, n: Long, perEntity: Int): DataFrame = {
    val rows = for (e <- first until first + n; v <- 0 until perEntity) yield {
      val lang = langs(Math.floorMod(e * 31 + v, langs.length.toLong).toInt)
      val bytes = PagesGen.htmlFor(e, v, lang).getBytes(StandardCharsets.UTF_8)
      Row(s"https://host$e-$v.example/profile",
        new Timestamp(1609459200000L + (e * perEntity + v) * 1000L),
        bytes, Extract.extractText(bytes), lang)
    }
    spark.createDataFrame(rows.asJava, pageSchema)
  }

  /** The base universe of matcher.py's two-sided flow: one canonical
    * name per entity, id = entity index. */
  def baseUniverse(spark: SparkSession, first: Long, n: Long): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val rows = (first until first + n).map(e => Row(e, PagesGen.entityBaseName(e) + " Inc."))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** match_pair.py's pre-blocked input: every pair of the first
    * `variants` name variants of each entity (same entity), plus as
    * many random pairs of variants of two different entities. */
  def pairTable(spark: SparkSession, seed: Long, first: Long, n: Long,
      variants: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("name_a", StringType), StructField("name_b", StringType),
      StructField("entity_a", LongType), StructField("entity_b", LongType)))
    val same = for (e <- first until first + n; a <- 0 until variants;
        b <- a + 1 until variants)
      yield Row(PagesGen.mentionName(e, a), PagesGen.mentionName(e, b), e, e)
    val r = new scala.util.Random(mix(seed ^ 0x9a17L))
    val cross = Iterator.continually {
      val ea = first + r.nextInt(n.toInt)
      val eb = first + r.nextInt(n.toInt)
      (ea, eb)
    }.filter { case (a, b) => a != b }.take(same.length).map { case (ea, eb) =>
      Row(PagesGen.mentionName(ea, r.nextInt(variants)),
        PagesGen.mentionName(eb, r.nextInt(variants)), ea, eb)
    }.toSeq
    spark.createDataFrame((same ++ cross).asJava, schema)
  }
}
