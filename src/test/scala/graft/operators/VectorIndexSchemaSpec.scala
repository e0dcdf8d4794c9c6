package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** The codes' full-rows schema, carried by the generation manifest:
  * maintenance reads (upsert rewrite, replay detection, compaction) read
  * the codes under it instead of paying an all-footers schema merge per
  * mutation batch. These tests pin its lifecycle:
  *
  *  - a fresh [[VectorIndex.write]] records the written schema and the
  *    explicit-schema read round-trips the rows;
  *  - a SUPERSET schema (the only state the superset-first commit order
  *    can leave behind a crash) reads the phantom column as all-null;
  *  - a retyped column is refused before any data lands.
  */
class VectorIndexSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"
  private val pq = PqParams(m = 4, subDim = 16, k = 16)

  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  private def freshIndex(): String = {
    val path = java.nio.file.Files.createTempDirectory("graft_schema_marker").toString
    val quant = VectorIndex.train(emb, col("vec_id"), col("embedding"),
      kCells = 16, iters = 1, pq = pq)
    VectorIndex.write(quant,
      VectorIndex.encode(emb, col("vec_id"), col("embedding"), quant), path)
    path
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** Commit `schema` as the index's codes schema, as a hand edit would. */
  private def commitSchema(path: String,
      schema: org.apache.spark.sql.types.StructType): Unit =
    ManifestSurgery.amend(spark, path)(
      _.replace("schema", graft.core.Json.parse(schema.json)))

  test("write() records the full-rows schema in the manifest; the explicit-schema read round-trips the codes") {
    val path = freshIndex()
    try {
      assert(VectorIndex.snapshot(spark, path).schema.fieldNames.toSet ===
        Set("vec_id", "cell", "m", "code"), "write() must record the codes schema")
      val full = VectorIndex.loadCodesFull(spark, path)
      assert(full.schema.fieldNames.toSet ===
        Set("vec_id", "cell", "m", "code"))
      // the partition column is declared in the schema, not re-inferred
      // from directory names — `cell` must come back as the written long
      assert(full.schema("cell").dataType ===
        org.apache.spark.sql.types.LongType)
      // row-level equality against the projected search read
      val viaSearch = VectorIndex.loadCodes(spark, path)
        .orderBy("vec_id", "m").collect().toSeq
      val viaFull = full.select(col("vec_id"), col("cell"), col("m"), col("code"))
        .orderBy("vec_id", "m").collect().toSeq
      assert(viaFull === viaSearch)
    } finally rm(new java.io.File(path))
  }

  test("superset marker (crash window): phantom column reads all-null, answers unchanged") {
    val path = freshIndex()
    try {
      // simulate the one state superset-first can leave: schema widened
      // for a stamped append whose data write never landed
      val st = VectorIndex.snapshot(spark, path).schema
      val widened = org.apache.spark.sql.types.StructType(st.fields :+
        org.apache.spark.sql.types.StructField("__batch",
          org.apache.spark.sql.types.LongType, nullable = true))
      commitSchema(path, widened)
      val full = VectorIndex.loadCodesFull(spark, path)
      assert(full.schema.fieldNames.contains("__batch"))
      assert(full.filter(col("__batch").isNotNull).count() === 0L,
        "a column no file carries must read as all-null")
      // and the maintenance path over it still converges: a no-op-shaped
      // upsert (update one vector) answers like the rebuild-equivalence
      // tests require — exercised here just for execution, equality is
      // pinned by VectorIndexSpec's upsert suite
      val upd = emb.filter(col("vec_id") === 20)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      VectorIndex.upsertBatch(spark, path, upd,
        upd.limit(0).select(col("vec_id")), col("vec_id"), col("embedding"), pq)
      assert(VectorIndex.loadCodes(spark, path)
        .filter(col("vec_id") === 20).count() === pq.m.toLong)
    } finally rm(new java.io.File(path))
  }

  test("retyped debris refuses the widen loudly (VERDICT r18 #7)") {
    // writers never retype a column, so a schema whose type disagrees with
    // an incoming write can only be a caller or hand-edit error — the union
    // must fail loudly instead of first-seen-silently-wins, which would
    // surface as quietly wrong explicit-schema reads
    import org.apache.spark.sql.types._
    val a = StructType(Seq(StructField("vec_id", LongType),
      StructField("code", LongType)))
    val retyped = StructType(Seq(StructField("code", StringType)))
    val e = intercept[IllegalArgumentException] {
      VectorIndex.unionSchemas(a, retyped)
    }
    assert(e.getMessage.contains("schema drift") && e.getMessage.contains("code"))
    // end-to-end: an appendBatch onto an index whose schema claims a
    // retyped `code` aborts before any data lands
    val path = freshIndex()
    try {
      val st = VectorIndex.snapshot(spark, path).schema
      val debris = StructType(st.fields.map(f =>
        if (f.name == "code") f.copy(dataType = StringType) else f))
      commitSchema(path, debris)
      val rowsBefore = VectorIndex.loadCodes(spark, path).count()
      val fresh = emb.filter(col("vec_id") === 21)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      intercept[IllegalArgumentException] {
        VectorIndex.appendBatch(spark, path, fresh,
          col("vec_id"), col("embedding"), pq)
      }
      assert(VectorIndex.loadCodes(spark, path).count() === rowsBefore,
        "the refused append must not have landed any rows")
    } finally rm(new java.io.File(path))
  }
}
