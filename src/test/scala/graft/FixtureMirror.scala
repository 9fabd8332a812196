package graft

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

/** Miniature on-disk recount3 mirror (FIXTURES.md §A): file layout exactly
  * as the locators generate it, served over file:// URLs — the zero-egress
  * replacement for the live service the reference tests against.
  *
  * Layout: organism `human`, one data source `data_sources/sra`, projects
  * SRP001 (samples SRR001, SRR002) and SRP002 (SRR003). [[build]] can
  * rename them and add a third project (SRR004) whose junction matrix is
  * one row shorter.
  */
object FixtureMirror {

  val Organism = "human"
  val Dbase = "sra"
  val DSource = "data_sources/sra"

  /** The content of one project position: its samples, gene and exon
    * counts rows, junction ID list, MatrixMarket body and RR value prefix.
    */
  private final case class Slot(samples: Seq[String], gene: Seq[Seq[String]],
      exon: Seq[Seq[String]], jxnIds: Seq[String], mm: String, rrPrefix: String)

  private val Slots = Seq(
    Slot(Seq("SRR001", "SRR002"),
      Seq(Seq("g1", "10", "20"), Seq("g2", "30", "40"), Seq("g3", "0", "5"), Seq("g4", "7", "0")),
      Seq(Seq("chr1|100|150|+", "1", "2"), Seq("chr1|160|200|+", "3", "4"),
        Seq("chr2|500|700|-", "5", "6")),
      Seq("101", "102"), "%\n4 2 3\n1 1 5\n2 2 7\n4 1 2\n", "v"),
    Slot(Seq("SRR003"),
      Seq(Seq("g2", "100"), Seq("g3", "200"), Seq("g5", "300")),
      Seq(Seq("chr1|100|150|+", "9"), Seq("chr2|500|700|-", "8")),
      Seq("103"), "4 1 1\n1 1 9\n", "w"),
    Slot(Seq("SRR004"),
      Seq(Seq("g1", "11"), Seq("g5", "13")),
      Seq(Seq("chr1|160|200|+", "4")),
      Seq("104"), "3 1 2\n1 1 4\n3 1 6\n", "x"))

  private val DefaultIds = Seq("SRP001", "SRP002")
  val Projects: Map[String, Seq[String]] = DefaultIds.zip(Slots.map(_.samples)).toMap

  private def writeGz(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(Files.newOutputStream(p)), "UTF-8"))
    try w.write(content) finally w.close()
  }

  private def tsv(rows: Seq[Seq[String]]): String =
    rows.map(_.mkString("\t")).mkString("", "\n", "\n")

  /** Build the mirror under `root` with the project ids `pids` (at most
    * three) in the project positions; returns the file:// root URL.
    */
  def build(root: Path, pids: Seq[String] = DefaultIds): String = {
    require(pids.size <= Slots.size, s"at most ${Slots.size} fixture projects")
    val projects = pids.zip(Slots)
    val human = root.resolve(Organism)
    Files.createDirectories(human)
    // homes_index: one data-source path per line (api.py:31-36)
    Files.writeString(human.resolve("homes_index"), DSource + "\n\n")

    // ---- corpus metadata (one per data source, 8 string cols) ----
    val corpusCols = Seq("rail_id", "external_id", "study", "project",
      "organism", "project_home", "file_source", "date_processed")
    val corpusRows = for {
      ((pid, slot), n) <- projects.zipWithIndex
      (sid, i) <- slot.samples.zipWithIndex
    } yield Seq(s"${n + 1}0$i", sid, pid, pid, "Homo sapiens",
      DSource, Dbase, "2024-01-01")
    writeGz(human.resolve(s"$DSource/metadata/sra.recount_project.MD.gz"),
      tsv(corpusCols +: corpusRows))

    // ---- per-project metadata (5 tag files joined on the composite key) ----
    for (((pid, slot), n) <- projects.zipWithIndex) {
      val base = human.resolve(s"$DSource/metadata/${pid.takeRight(2)}/$pid")
      def keys(i: Int, sid: String) = Seq(s"${n + 1}0$i", sid, pid)
      def rows(extra: (Int, String) => Seq[String], cols: Seq[String]): String =
        tsv((Seq("rail_id", "external_id", "study") ++ cols) +:
          slot.samples.zipWithIndex.map { case (sid, i) => keys(i, sid) ++ extra(i, sid) })
      writeGz(base.resolve(s"$Dbase.$Dbase.$pid.MD.gz"),
        rows((i, _) => Seq(s"attr$i"), Seq("sra_attr")))
      writeGz(base.resolve(s"$Dbase.recount_project.$pid.MD.gz"),
        rows((_, _) => Seq(pid, "Homo sapiens"), Seq("project", "organism")))
      writeGz(base.resolve(s"$Dbase.recount_qc.$pid.MD.gz"),
        rows((_, _) => Seq("1000", "200", "100"),
          Seq("star.all_mapped_reads", "star.average_mapped_length", "avg_len")))
      writeGz(base.resolve(s"$Dbase.recount_seq_qc.$pid.MD.gz"),
        rows((_, _) => Seq("20000000"), Seq("bc_auc.all_reads_all_bases")))
      writeGz(base.resolve(s"$Dbase.recount_pred.$pid.MD.gz"),
        rows((i, _) => Seq(s"pred$i"), Seq("pred_attr")))
    }

    // ---- gene annotation GTF (9 cols, # comments, no header) ----
    val gtf =
      """##description: fixture annotation
        |chr1	havana	gene	100	200	.	+	.	gene_id "g1"; gene_name "Alpha"; gene_biotype "protein_coding"
        |chr1	havana	transcript	100	200	.	+	.	gene_id "g1"; transcript_id "t1"; transcript_name "Alpha-1"
        |chr2	ensembl	gene	500	900	.	-	.	gene_id "g2"; gene_name "Beta"; tag "basic"
        |""".stripMargin
    writeGz(human.resolve(s"annotations/gene_sums/human.gene_sums.G026.gtf.gz"), gtf)
    writeGz(human.resolve(s"annotations/exon_sums/human.exon_sums.G026.gtf.gz"), gtf)

    for ((pid, slot) <- projects) {
      // ---- gene and exon counts (wide: feature id + per-sample cols, ##
      // comments; the exon id is the composite chrom|start|end|strand) ----
      def countsFile(dir: String, key: String, rows: Seq[Seq[String]]): Unit =
        writeGz(human.resolve(s"$DSource/$dir/${pid.takeRight(2)}/$pid/$Dbase.$dir.$pid.G026.gz"),
          "##fixture counts\n" + tsv((key +: slot.samples) +: rows))
      countsFile("gene_sums", "gene_id", slot.gene)
      countsFile("exon_sums", "exon_id", slot.exon)

      // ---- junctions: ID (csv), MM (MatrixMarket), RR (10-col tsv) ----
      writeGz(junctionPath(root, pid, "ID.gz"), ("rail_id" +: slot.jxnIds).mkString("", "\n", "\n"))
      writeGz(junctionPath(root, pid, "MM.gz"),
        "%%MatrixMarket matrix coordinate integer general\n" + slot.mm)
      val rrCols = (1 to 9).map(i => s"c$i")
      val height = slot.mm.linesIterator.dropWhile(_.startsWith("%")).next().split(" ")(0).toInt
      writeGz(junctionPath(root, pid, "RR.gz"),
        tsv((Seq("chromosome") ++ rrCols) +:
          (1 to height).map(r => Seq(s"chr$r") ++ rrCols.map(c => s"${slot.rrPrefix}$r$c"))))
    }

    // ---- bigwig (zero-byte; content never parsed) ----
    val allSamples = projects.flatMap(_._2.samples).sorted
    for (pid <- pids; sid <- allSamples) {
      val p = human.resolve(
        s"$DSource/base_sums/${pid.takeRight(2)}/$pid/${sid.takeRight(2)}/$Dbase.base_sums.${pid}_$sid.ALL.bw")
      Files.createDirectories(p.getParent)
      Files.write(p, Array.emptyByteArray)
    }

    root.toUri.toString.stripSuffix("/")
  }

  private def junctionPath(root: Path, pid: String, ext: String): Path =
    root.resolve(s"$Organism/$DSource/junctions/${pid.takeRight(2)}/$pid/" +
      s"$Dbase.junctions.$pid.UNIQUE.$ext")

  /** [[build]], except that SRP001's junction ID file lists three
    * rail_ids out of sorted order (102, 099, 101) and the MM matrix has no
    * entries in 099's column: the all-zero sample a wide load must keep.
    */
  def buildWithEmptySample(root: Path): String = {
    val url = build(root)
    writeGz(junctionPath(root, "SRP001", "ID.gz"), "rail_id\n102\n099\n101\n")
    writeGz(junctionPath(root, "SRP001", "MM.gz"),
      "%%MatrixMarket matrix coordinate integer general\n4 3 3\n1 1 5\n2 3 7\n4 1 2\n")
    url
  }

  /** [[build]], except that SRP002's `recount_qc` file has one column more
    * (`extra_qc`) than SRP001's: a tag whose header differs by project.
    */
  def buildWithExtraQcColumn(root: Path): String = {
    val url = build(root)
    writeGz(root.resolve(s"$Organism/$DSource/metadata/02/SRP002/$Dbase.recount_qc.SRP002.MD.gz"),
      tsv(Seq(Seq("rail_id", "external_id", "study", "star.all_mapped_reads",
        "star.average_mapped_length", "avg_len", "extra_qc"),
        Seq("200", "SRR003", "SRP002", "1000", "200", "100", "q"))))
    url
  }
}
