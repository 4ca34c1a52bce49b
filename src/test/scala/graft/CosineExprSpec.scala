package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.plans.CosineSimilarity

class CosineExprSpec extends SparkSpec {
  import spark.implicits._

  test("codegen expression agrees with the decimal HOF cosine to 1e-9") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(100)
    val q = e.select(col("embedding").as("qe")).limit(1)
    val both = e.crossJoin(q).select(
      VectorOps.cosine(col("embedding"), col("qe")).as("hof"),
      CosineSimilarity.cosineSim(col("embedding"), col("qe")).as("gen"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("interpreted eval path matches codegen path") {
    val df = Seq(
      (Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)),
      (Seq(0f, 0f, 0f), Seq(1f, 1f, 1f)), // zero norm → 0.0, not NaN
      (Seq(1f, 0f), Seq(1f, 0f))).toDF("a", "b")
    val gen = df.select(CosineSimilarity.cosineSim(col("a"), col("b"))).collect().map(_.getDouble(0))
    // force interpreted path
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try
      df.select(CosineSimilarity.cosineSim(col("a"), col("b"))).collect().map(_.getDouble(0))
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(gen.toSeq == interp.toSeq)
    assert(gen(1) == 0.0)
    val expected = (1*4 + 2*5 + 3*6) / (math.sqrt(1+4+9) * math.sqrt(16+25+36))
    assert(math.abs(gen(0) - expected) < 1e-12)
  }

  test("mismatched dimensions yield null, not a prefix similarity") {
    // truncating to the common prefix would mask an upstream dimension bug
    // with a plausible score — fail loudly instead (both eval paths)
    val df = Seq((Seq(1f, 2f, 3f), Seq(1f, 2f))).toDF("a", "b")
    assert(df.select(CosineSimilarity.cosineSim(col("a"), col("b"))).head.isNullAt(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try
      assert(df.select(CosineSimilarity.cosineSim(col("a"), col("b"))).head.isNullAt(0))
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("null arrays propagate null") {
    val df = Seq((Some(Seq(1f, 2f)), Option.empty[Seq[Float]])).toDF("a", "b")
    val r = df.select(CosineSimilarity.cosineSim(col("a"), col("b"))).head
    assert(r.isNullAt(0))
  }

  test("SQL registration works: SELECT cosine_sim(a, b)") {
    Seq((Seq(1f, 0f), Seq(1f, 0f))).toDF("a", "b").createOrReplaceTempView("v_cos")
    val r = spark.sql("SELECT cosine_sim(a, b) AS c FROM v_cos").head.getDouble(0)
    assert(r == 1.0)
  }
}
