package graft.operators

import graft.SparkSuite

/** The maxVocabSize cap: top-N by corpus frequency with the
  * (tf desc, term asc) tie-break, orthogonal to the df/tf trim.
  */
class TrimmedCountVectorizerSpec extends SparkSuite {
  import spark.implicits._

  // corpus frequencies: a=5 (3 docs), b=4 (2 docs), c=2 (2 docs),
  // d=2 (1 doc), e=1 (1 doc); ties c/d broken alphabetically
  private lazy val docs = Seq(
    Seq("a", "a", "b", "c", "d", "d"),
    Seq("a", "b", "b", "c"),
    Seq("a", "a", "b", "e")).toDF("tokens")

  private def fitVocab(cv: TrimmedCountVectorizer): Seq[String] =
    cv.setInputCol("tokens").fit(docs).vocabulary.toSeq

  test("default cap is a no-op") {
    assert(fitVocab(new TrimmedCountVectorizer())
      == Seq("a", "b", "c", "d", "e"))
  }

  test("cap keeps the top-N by corpus frequency, ties by term") {
    assert(fitVocab(new TrimmedCountVectorizer().setMaxVocabSize(3))
      == Seq("a", "b", "c"))
    assert(fitVocab(new TrimmedCountVectorizer().setMaxVocabSize(4))
      == Seq("a", "b", "c", "d"))
  }

  test("cap composes with the df/tf trim") {
    // df>=2 drops d and e; cap 2 then keeps (a, b)
    val vocab = fitVocab(new TrimmedCountVectorizer()
      .setMinDocFreq(2).setMaxVocabSize(2))
    assert(vocab == Seq("a", "b"))
  }

  test("cap larger than the vocabulary is a no-op") {
    assert(fitVocab(new TrimmedCountVectorizer().setMaxVocabSize(100))
      == Seq("a", "b", "c", "d", "e"))
  }

  test("uncapped order is Spark's: tf desc, then UTF-8 bytes, null first") {
    val fullwidthA = new String(Character.toChars(0xFF21)) // EF BC A1
    val emoji = new String(Character.toChars(0x1F600))     // F0 9F 98 80
    // UTF-16 puts the emoji's high surrogate (D83D) before FF21; UTF-8
    // puts it after, so String order would get this pair wrong
    assert(emoji < fullwidthA)
    // tf: c=3; null, b, fullwidthA and emoji tie at 2
    val ties = Seq(
      Seq(emoji, fullwidthA, null, "b"),
      Seq("c", fullwidthA, "c", null, emoji, "b", "c")).toDF("tokens")
    def vocab(cv: TrimmedCountVectorizer): Seq[String] =
      cv.setInputCol("tokens").fit(ties).vocabulary.toSeq
    val uncapped = vocab(new TrimmedCountVectorizer())
    assert(uncapped == Seq("c", null, "b", fullwidthA, emoji))
    // the capped path sorts in Spark: each cap returns a prefix
    for (k <- 1 to uncapped.size + 1)
      assert(vocab(new TrimmedCountVectorizer().setMaxVocabSize(k))
        == uncapped.take(k), s"cap $k")
  }
}
