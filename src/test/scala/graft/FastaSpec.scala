package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.FastaSource

/** FASTA source against a fixture in the reference's format
  * (FIXTURES.md §4): `src/test/resources/fixtures/sample_genes.fa`, 13
  * protein records with `>EK_…_<id>` headers and multi-line sequences,
  * one of them (KK_AEA46692.1) without a sequence. */
class FastaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val fixture = getClass.getResource("/fixtures/sample_genes.fa").getPath

  test("parses all records with the BioSeqPipe schema") {
    val df = FastaSource.read(spark, fixture)
    assert(df.columns.toSet ==
      Set("sequences", "ids", "names", "descriptions", "dbxrefs"))
    assert(df.count() == 13)
    // every record has a non-empty id and sequence, no '>' leakage
    assert(df.filter(org.apache.spark.sql.functions.col("ids").startsWith(">")).count() == 0)
    // the fixture has exactly one sequence-less record (KK_AEA46692.1)
    assert(df.filter(org.apache.spark.sql.functions.length(
      org.apache.spark.sql.functions.col("sequences")) === 0).count() == 1)
  }

  test("source is re-scannable (reference reset() semantics)") {
    val df = FastaSource.read(spark, fixture)
    assert(df.count() == df.count())
  }

  test("filetype=fastq round-trips a synthesized fixture, surviving '@'-leading quality lines") {
    import org.apache.spark.sql.functions.col
    // '@' is a legal Phred+33 quality char: record r1's quality line
    // starts with '@', which would shear a naive "\n@" record split —
    // the positional 4-line parser must still see exactly 3 records
    val fastq = Seq(
      "@r1 first read", "ACGTACGT", "+", "@AABBCCD",
      "@r2 second read", "TTTTGGGG", "+", "IIIIIIII",
      "@r3", "AC", "+", "!~").mkString("\n")
    val dir = java.nio.file.Files.createTempDirectory("graft_fastq")
    val f = dir.resolve("reads.fastq")
    java.nio.file.Files.writeString(f, fastq + "\n")
    try {
      val df = FastaSource.read(spark, f.toString, filetype = "fastq")
      assert(df.columns.toSet ==
        Set("sequences", "ids", "names", "descriptions", "dbxrefs", "qualities"))
      val rows = df.orderBy("ids").collect().map(r =>
        (r.getAs[String]("ids"), r.getAs[String]("sequences"),
          r.getAs[String]("descriptions"), r.getAs[String]("qualities")))
      assert(rows.toSeq == Seq(
        ("r1", "ACGTACGT", "r1 first read", "@AABBCCD"),
        ("r2", "TTTTGGGG", "r2 second read", "IIIIIIII"),
        ("r3", "AC", "r3", "!~")))
      // unknown formats fail loudly (the reference defers to SeqIO's
      // format table; we carry the tested subset)
      intercept[IllegalArgumentException] {
        FastaSource.read(spark, f.toString, filetype = "embl")
      }
    } finally {
      java.nio.file.Files.deleteIfExists(f)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("filetype=tab round-trips SeqIO's two-column format; malformed lines fail loudly") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_tab")
    val f = dir.resolve("seqs.tab")
    // trailing blank line tolerated (SeqIO skips it); ids carry over
    // to names/descriptions like Biopython's TabIterator
    java.nio.file.Files.writeString(f,
      "seq1\tACGTACGT\nseq2\tTTTTGGGG\nseq3\tAC\n\n")
    try {
      val df = FastaSource.read(spark, f.toString, filetype = "tab")
      assert(df.columns.toSet ==
        Set("sequences", "ids", "names", "descriptions", "dbxrefs"))
      val rows = df.orderBy("ids").collect().map(r =>
        (r.getAs[String]("ids"), r.getAs[String]("sequences"),
          r.getAs[String]("names"), r.getAs[String]("descriptions")))
      assert(rows.toSeq == Seq(
        ("seq1", "ACGTACGT", "seq1", "seq1"),
        ("seq2", "TTTTGGGG", "seq2", "seq2"),
        ("seq3", "AC", "seq3", "seq3")))
      // a line without a tab separator is malformed — loud failure
      val bad = dir.resolve("bad.tab")
      java.nio.file.Files.writeString(bad, "seq1\tACGT\nnotab\n")
      try intercept[Exception] {
        FastaSource.read(spark, bad.toString, filetype = "tab").collect()
      } finally java.nio.file.Files.deleteIfExists(bad)
    } finally {
      java.nio.file.Files.deleteIfExists(f)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("filetype=genbank parses a multi-record flat file with Biopython's field mapping") {
    // Two records shaped like the canonical NCBI flat-file layout:
    // multi-line DEFINITION (continuation unwrapped), VERSION preferred
    // over ACCESSION for ids, DBLINK → dbxrefs, ORIGIN stripped of
    // position numbers/whitespace with case kept. Record 2 has no
    // VERSION (falls back to ACCESSION) and no DBLINK (empty dbxrefs).
    val gb = Seq(
      "LOCUS       SYN001                 24 bp    DNA     linear   SYN 01-JAN-2020",
      "DEFINITION  Synthetic test plasmid alpha, complete",
      "            sequence.",
      "ACCESSION   SY000001",
      "VERSION     SY000001.2",
      "DBLINK      BioProject: PRJNA0001",
      "            BioSample: SAMN0002",
      "KEYWORDS    .",
      "FEATURES             Location/Qualifiers",
      "     source          1..24",
      "                     /organism=\"synthetic construct\"",
      "ORIGIN      ",
      "        1 gatcctccat atacaacggt atctcc",
      "//",
      "LOCUS       SYN002                  8 bp    DNA     linear   SYN 01-JAN-2020",
      "DEFINITION  Synthetic fragment beta.",
      "ACCESSION   SY000002",
      "ORIGIN",
      "        1 ACGTacgt",
      "//").mkString("\n")
    val dir = java.nio.file.Files.createTempDirectory("graft_gb")
    val f = dir.resolve("recs.gb")
    java.nio.file.Files.writeString(f, gb + "\n")
    try {
      val df = FastaSource.read(spark, f.toString, filetype = "genbank")
      assert(df.columns.toSet ==
        Set("sequences", "ids", "names", "descriptions", "dbxrefs"))
      val rows = df.orderBy("ids").collect().map(r =>
        (r.getAs[String]("ids"), r.getAs[String]("names"),
          r.getAs[String]("descriptions"), r.getAs[String]("sequences"),
          r.getAs[Seq[String]]("dbxrefs")))
      assert(rows.toSeq == Seq(
        ("SY000001.2", "SYN001", "Synthetic test plasmid alpha, complete sequence.",
          "gatcctccatatacaacggtatctcc",
          Seq("BioProject:PRJNA0001", "BioSample:SAMN0002")),
        ("SY000002", "SYN002", "Synthetic fragment beta.",
          "ACGTacgt", Seq.empty)))
    } finally {
      java.nio.file.Files.deleteIfExists(f)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("malformed FASTQ fails loudly instead of silently shearing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fastq_bad")
    def readAll(lines: Seq[String], name: String): Unit = {
      val f = dir.resolve(name)
      java.nio.file.Files.writeString(f, lines.mkString("\n") + "\n")
      try FastaSource.read(spark, f.toString, filetype = "fastq").collect()
      finally java.nio.file.Files.deleteIfExists(f)
    }
    // truncated: 7 lines — the last positional group has 3 lines
    val truncated = intercept[Exception] {
      readAll(Seq("@r1", "ACGT", "+", "IIII", "@r2", "ACGT", "+"), "trunc.fastq")
    }
    assert(truncated.getMessage != null || truncated.getCause != null)
    // sheared: one line deleted mid-file shifts the '+' sentinel out
    // of position 2 — caught by the sentinel check, not the count
    intercept[Exception] {
      readAll(Seq("@r1", "ACGT", "+", "IIII",
        "@r2", "+", "IIII",
        "@r3", "ACGT", "+", "IIII", "@pad"), "shear.fastq")
    }
    java.nio.file.Files.deleteIfExists(dir)
  }

  test("CRLF FASTA parses identically to LF (explicit lineSep must not leak \\r)") {
    import org.apache.spark.sql.functions.col
    val lf = ">id1 desc one\nACGT\nTTAA\n>id2\nGGCC\n"
    val dir = java.nio.file.Files.createTempDirectory("graft_crlf")
    java.nio.file.Files.writeString(dir.resolve("lf.fa"), lf)
    java.nio.file.Files.writeString(dir.resolve("crlf.fa"), lf.replace("\n", "\r\n"))
    def rows(f: String) = FastaSource.read(spark, dir.resolve(f).toString)
      .select("ids", "sequences", "descriptions").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val a = rows("lf.fa"); val b = rows("crlf.fa")
    assert(a == b, s"CRLF drifted: $b vs $a")
    assert(a.exists(_._2 == "ACGTTTAA"), "multi-line sequence must concatenate cleanly")
    assert(a.forall { case (i, sq, d) => !(i + sq + d).contains("\r") })
  }
}
