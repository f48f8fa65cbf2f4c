package graft.tools

import org.apache.spark.sql.SparkSession

/** Non-ASCII `documents` fixture for the m01/m02 byte-semantics parity
  * check: multi-byte UTF-8 throughout (2-byte Latin accents, 3-byte CJK,
  * 4-byte emoji), with planted near-duplicate pairs INSIDE the non-ASCII
  * text — the case where a character-windowed oracle and the byte-windowed
  * engine would silently diverge (a 3-byte codepoint shifts every later
  * byte window but only one char window).
  *
  * Usage:
  *   sbt "runMain graft.tools.MakeNonAsciiCorpus /tmp/nonascii"
  *   sbt "runMain graft.Verify /tmp/nonascii /tmp/nonascii-out m01_media_stats,m02_phash_neardup"
  *   python3 tools/local_verify.py /tmp/nonascii-out /tmp/nonascii
  */
object MakeNonAsciiCorpus {

  /** (doc_id, text, lang, source) — near-dup pairs: (0,1), (10,11), (20,21). */
  def docs: Seq[(Long, String, String, String)] = {
    val accented = "le café est très fréquenté l'été quand les températures " +
      "montent et que les clients préfèrent s'asseoir à l'ombre des platanes " +
      "en dégustant une crème brûlée accompagnée d'un thé glacé parfumé à la " +
      "pêche et d'une part de gâteau où la génoise moelleuse côtoie la " +
      "ganache fouettée préparée à l'aïoli non plutôt à la vanille épicée"
    val cjk = "東京の地下鉄は世界有数の利用者数を誇り朝の通勤時間帯には乗客が" +
      "整然と列を作って電車を待つ光景が見られる駅構内の案内表示は日本語と" +
      "英語に加えて中国語と韓国語でも提供されており外国からの旅行者にも" +
      "分かりやすい構造になっている改札を抜けると売店が並び温かい飲み物や" +
      "軽食を買い求める人々で賑わっている"
    val emoji = "the launch party was wild 🎉🚀 everyone brought snacks 🍕🌮 " +
      "and the demo actually worked 😅 which surprised the whole team 🤖✨ " +
      "we stayed until midnight 🌙 debugging the confetti cannon 🎊 because " +
      "obviously that was the critical path 🛠️🔥 ship it friday they said 📦 " +
      "the retrospective covered the usual topics 📋 why the staging cluster " +
      "caught fire 🔥 who approved the dependency bump 🤔 and whether the " +
      "confetti cannon counts as test infrastructure 🎪 consensus emerged " +
      "slowly over cold pizza 🍕 that it absolutely does 💯"
    // fillers must be mutually FAR (no shared template — a shared sentence
    // skeleton would perceptually collide): each is a distinct scrambled
    // word soup seeded by i, drawn from a multi-script vocabulary
    val vocab = Vector("café", "señal", "übung", "fjörd", "東京", "駅", "電車",
      "αγορά", "ψυχή", "Москва", "жизнь", "świt", "łódź", "naïve", "façade",
      "crème", "pêche", "🎉", "🚀", "🍕", "☕", "α7", "β9", "gamma", "delta",
      "zęby", "göl", "ağaç", "ñandú", "ski", "vatn", "þing", "æska")
    val mixedFill = (0 until 12).map { i =>
      val rnd = new scala.util.Random(9173 + i * 77)
      val words = (0 until 60).map(_ => vocab(rnd.nextInt(vocab.length)) +
        (if (rnd.nextInt(3) == 0) rnd.nextInt(1000).toString else ""))
      (100L + i, words.mkString(" "), "mix", s"fill$i")
    }
    Seq(
      (0L, accented, "fr", "web"),
      (1L, accented.replace("vanille épicée", "vanille épicée !"), "fr", "web"),
      (10L, cjk, "ja", "news"),
      (11L, cjk.replace("賑わっている", "賑わっていた"), "ja", "news"),
      (20L, emoji, "en", "social"),
      (21L, emoji.replace("ship it friday", "ship it monday"), "en", "social"),
      (30L, "tiny é", "fr", "short"), // shorter than one 4-byte window after a point
      (31L, "é", "fr", "short"), // 2 bytes: the sub-window whole-payload path
      (32L, "", "en", "short") // empty payload edge
    ) ++ mixedFill
  }

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.driverSession("graft-nonascii-corpus")
    write(spark, args(0))
    spark.stop()
  }
}
