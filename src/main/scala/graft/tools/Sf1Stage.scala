package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage an sf1-scale dataset by deterministic MULT-x replication (any
  * multiplier) of the driver's sf0.1 parquet — the one scale path: bench
  * the staged directory, then `tools/sf1_exponents.py` (README "Running"):
  *
  *  - documents: doc_id remapped per replica; replica > 0 texts get a
  *    replica token INSERTED every 8 words, so cross-replica Jaccard
  *    lands ~0.45 — well under every near-dup threshold; the corpus
  *    grows without becoming an artificial 10-way duplicate cluster
  *    (word-frequency shape otherwise preserved).
  *  - embeddings: vec_id remapped; replica vectors are ROTATED copies
  *    (norm-preserving, decorrelated from the base set).
  *  - events: event_id and user_id remapped per replica (10x users,
  *    per-user series shape preserved), timestamps untouched.
  *  - lineitem: l_orderkey remapped; dim foreign keys untouched (dims
  *    are copied verbatim below, so joins stay valid).
  *  - region/nation/customer/supplier/part/orders: copied verbatim
  *    (dims don't scale with corpus size).
  *
  * Usage: runMain graft.tools.Sf1Stage [srcDir] [dstDir] [mult]
  */
object Sf1Stage {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val mult = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.engine.GraftSession.local(cpus, "graft-sf1stage", Map.empty)
    import spark.implicits._

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.repartition(32).write.mode("overwrite").parquet(s"$dst/$name.parquet")

    // --- documents: remap ids, perturb replica texts
    val docs = read("documents")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    val docsScaled = (0 until mult).map { r =>
      if (r == 0) docs
      else docs.as[(Long, String, String, String, Long)].map { case (id, text, lang, source, n) =>
        val words = if (text == null) Array.empty[String] else text.split(" ")
        val sb = new StringBuilder
        var i = 0
        while (i < words.length) {
          if (i % 8 == 0 && i > 0) { sb.append("r").append(r).append(' ') }
          sb.append(words(i)); if (i < words.length - 1) sb.append(' ')
          i += 1
        }
        val t = sb.toString
        (id + r * maxDoc, t, lang, source, t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    }.reduce(_ unionByName _)
    write(docsScaled, "documents")

    // --- embeddings: remap ids, rotate replica vectors
    val emb = read("embeddings")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    val embScaled = (0 until mult).map { r =>
      if (r == 0) emb
      else emb.as[(Long, Array[Float], Int)].map { case (id, v, label) =>
        val rot = new Array[Float](v.length)
        var i = 0
        while (i < v.length) { rot(i) = v((i + r) % v.length); i += 1 }
        (id + r * maxVec, rot, label)
      }.toDF("vec_id", "embedding", "label")
    }.reduce(_ unionByName _)
    write(embScaled, "embeddings")

    // --- events: remap event + user ids (raw read: ts column kept as-is,
    // whatever physical type the source parquet uses)
    val ev = read("events")
    val maxEvent = ev.agg(max("event_id")).head().getLong(0) + 1
    val maxUser = ev.agg(max("user_id")).head().getLong(0) + 1
    val evScaled = (0 until mult).map { r =>
      ev.withColumn("event_id", col("event_id") + lit(r * maxEvent))
        .withColumn("user_id", col("user_id") + lit(r * maxUser))
    }.reduce(_ unionByName _)
    write(evScaled, "events")

    // --- lineitem: remap order keys
    val li = read("lineitem")
    val maxOrder = li.agg(max("l_orderkey")).head().getLong(0) + 1
    val liScaled = (0 until mult).map { r =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(r * maxOrder))
    }.reduce(_ unionByName _)
    write(liScaled, "lineitem")

    // --- dims: verbatim
    Seq("region", "nation", "customer", "supplier", "part", "orders")
      .foreach(t => write(read(t), t))

    println(s"[sf1stage] staged ${mult}x $src -> $dst")
    spark.stop()
  }
}
