package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Content fingerprints for the queries the DuckDB oracle can't check
  * (SURVEY §2's declared rows-only set: hash functions DuckDB lacks,
  * recall-/clustering-shaped dedup + ANN output,
  * the multimodal stub). Verify compares each against the recorded
  * golden and emits `golden_match` per query, so silent semantic drift
  * is caught even where no SQL oracle exists.
  *
  * The fingerprint is canonical: columns sorted by name, doubles
  * rounded (floating noise from partial-agg order must not flip it),
  * rows sorted, sha-256 over the joined text. q_knn_ivf additionally
  * drops the neighbor-id column and rounds scores to 2 dp: its
  * centroids come from distributed float averaging, so near-tie cell
  * assignments may legitimately differ across partition counts while
  * the score profile stays put.
  *
  * Re-record after an INTENTIONAL semantic change with:
  *   runMain graft.Goldens /root/testdata/sf0.001
  *   runMain graft.Goldens /root/testdata/sf0.01
  */
object Goldens {

  /** query → (columns to exclude, decimal places for doubles). */
  val rowsOnly: Map[String, (Set[String], Int)] = Map(
    "q_curation_e2e" -> (Set.empty[String], 2),
    "q_distinct_hll" -> (Set.empty[String], 6),
    "q_embed_pca" -> (Set.empty[String], 4),
    "q_fn_geohash" -> (Set.empty[String], 6),
    "q_fn_hash2" -> (Set.empty[String], 6),
    "q_knn_ivf" -> (Set("n_id"), 2),
    "q_quality_classifier" -> (Set.empty[String], 2),
    "q_knn_mmr" -> (Set.empty[String], 4),
    "q_knn_ivfpq" -> (Set("n_id"), 2),
    "q_knn_pq" -> (Set("n_id"), 2),
    "q_knn_quant" -> (Set.empty[String], 6),
    "q_multimodal" -> (Set.empty[String], 6),
    "q_multimodal_dups" -> (Set.empty[String], 6),
    "q_quantiles_tdigest" -> (Set.empty[String], 2),
    "q_text_bpe" -> (Set.empty[String], 6),
    "q_text_normalize" -> (Set.empty[String], 6),
    "q_text_unigram" -> (Set.empty[String], 2))

  /** Expected fingerprints per scale factor (testdata dir basename). */
  val expected: Map[String, Map[String, String]] = Map(
    "sf0.001" -> Map(
      "q_curation_e2e" -> "882e677cc75288dfb256bd7a959222154c8f1dd5b7a1881680c29cbe9998ee32",
      "q_distinct_hll" -> "9508329dd7bbe0612017d26db7e2579620bc632c326df851d33b343e9c8b05a2",
      "q_embed_pca" -> "d8286925037ec2fdd8d552166e9ed19d28e838689d80ec975dc9192b422d336b",
      "q_quality_classifier" -> "cc8015558429448c8816ba3ff7c0b282ee1c0cb1af867daaf5ebbef6383fa32b",
      "q_fn_geohash" -> "89157d7f5fc46fb4de3662aa1973c0893ef062ad32cd4cb1e023ba895a1974ff",
      "q_fn_hash2" -> "7ae2178b1cb47e76360ecdde0be3e7cb4f0c1723ee978747cbbab879851b511d",
      "q_knn_ivf" -> "730e5d226d844e2e0b269a98b47068de59f2c2696741f61051c5497414eb09ac",
      "q_knn_mmr" -> "ff400a5f90990b61eedc2a75d9c7ad95b54792fdc8bbfa5806a304bd0e4e896b",
      "q_knn_ivfpq" -> "485ffb4402dda77da2bb8a347eb1114fad9d882058328d5a0fabcc7c84011f74",
      "q_knn_pq" -> "59cc477111c21f80e66f255af50c42b218ef8b0088ea87da30da9375d382efcd",
      "q_knn_quant" -> "a24ad23ab36c619a4cfdea6f512bac32251a2dbfcf60ca339e833279007a9b6f",
      "q_multimodal" -> "63332ab8c9e9724222ed5513067985ccde77c89dec3fde9ea84bb9a94e2d14b4",
      "q_multimodal_dups" -> "8d57a5b32d04a00315912868d12b2c4632a0c3c894bdca0906889a18e245609b",
      "q_quantiles_tdigest" -> "04a2a1e116af883684fc8eb62a505d74f085bc67ba5d635f9ded0dbf8eecd743",
      "q_text_bpe" -> "1fcc44b4a00e32e91010aeb6f5a97d5ed42b5124887b45d37b68a42f7d8bcf21",
      "q_text_normalize" -> "78634513bdfd972a26e2f01e3230c1232d5f05999995f73f08a00c66071ec3ef",
      "q_text_unigram" -> "621f273fecb785ee866d9ce36fe2ec705a32013424a2b91649ab74e2e70953cc"),
    "sf0.01" -> Map(
      "q_curation_e2e" -> "35bdaeadabf66f60cfe9b4130475d56d15fb5a64a0332085cbb80fcda6efdfe9",
      "q_distinct_hll" -> "7dbd3541c7fdfc5a1da0ff0977b3ea340e23a6bad4884f5be0725b33a0be2ce7",
      "q_embed_pca" -> "65388c42dc9fb6b6e52df3bad283dd716b3a6c810d984cc9e2fb99462dbd4afd",
      "q_quality_classifier" -> "abb46a5f693cf7cb695b183e2d9285949f985fa569b80f0a99abc8f1452a3ca6",
      "q_fn_geohash" -> "89157d7f5fc46fb4de3662aa1973c0893ef062ad32cd4cb1e023ba895a1974ff",
      "q_fn_hash2" -> "167e0ebddf1bb5ad966b875aede15b1b0378f4e6833f673ff8e589d6ac2fb962",
      "q_knn_ivf" -> "ee734872291048fe9facc6411a6d8216e23ade6c9a7a33139925fec99196691c",
      "q_knn_mmr" -> "13ed6841904ea3eacf4bfc28db4d367acfee20c7b6952362893d6a02952d9fc2",
      "q_knn_ivfpq" -> "bdd318eefed452678c5ad188bc5c30ac52dacf9de0cdb196e6f8101d068e5ed4",
      "q_knn_pq" -> "e7956c578083a7844e253a56c85c355c44d3caae64afe938b279c0d070e802b0",
      "q_knn_quant" -> "10a065f42868de4b12f65e66a0517fbab6eeadb9b3d4f01a6a2bbe08890c1177",
      "q_multimodal" -> "7873c4c8bb430d5847a03ee36c78c9a5299cee2649cf36525a1fd93c30bddb3d",
      "q_multimodal_dups" -> "c722e78a0b98cc4aeb02a6af6df50060f71a2017e9d8298df17c13bf17355eee",
      "q_quantiles_tdigest" -> "e62c6416537c663b20585ea55eb7467ad2e734333a05ac3d54f938ab00b5b987",
      "q_text_bpe" -> "0e73b4f61f1398eabee81cb7cf7c55a9784de1c7190a02533fdec0f7b931ae78",
      "q_text_normalize" -> "ea1caea3414abe42ddfd760fcbca186038574ad2284e19aa5c83193298bb4e4a",
      "q_text_unigram" -> "587cf47c71ff267f7ad5dce4ccff9d0dcc6cd1a3d33b4e51d3bd8f4f712a1df9"))

  def fingerprint(df: DataFrame, exclude: Set[String] = Set.empty,
                  doubleDp: Int = 6): String = {
    val cols = df.schema.fieldNames.filterNot(exclude).sorted
    val proj = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
    def fmt(v: Any): String = v match {
      case null => "∅"
      case d: Double => BigDecimal(d).setScale(doubleDp, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
      case f: Float => fmt(f.toDouble)
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => s"${fmt(k)}:${fmt(x)}" }.toSeq.sorted.mkString("{", ",", "}")
      case r: org.apache.spark.sql.Row => r.toSeq.map(fmt).mkString("(", ",", ")")
      case other => other.toString
    }
    val lines = proj.collect().map(_.toSeq.map(fmt).mkString("")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Compute every rows-only fingerprint at `sfDir`. */
  def compute(spark: SparkSession, sfDir: String): Map[String, String] =
    rowsOnly.toSeq.sortBy(_._1).map { case (name, (exclude, dp)) =>
      name -> fingerprint(SparkEntry.queries(name)(spark, sfDir), exclude, dp)
    }.toMap

  /** Re-record tool: prints the `expected` map entries for an SF. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSession("4")
    val name = java.nio.file.Paths.get(sfDir).getFileName.toString
    println(s""""$name" -> Map(""")
    compute(spark, sfDir).toSeq.sortBy(_._1).foreach { case (q, h) =>
      println(s"""  "$q" -> "$h",""")
    }
    println(")")
    spark.stop()
  }
}
