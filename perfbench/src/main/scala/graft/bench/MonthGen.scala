package graft.bench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Seeded synthetic RFB month with the real dump's shape: 10 Empresas,
  * 10 Estabelecimentos and 10 Socios parts, one Simples archive and six
  * dimension archives, served to the pipeline as zips plus a listing page.
  *
  * Every field that varies in the real dump varies here with the seed, so
  * the parquet the pipeline writes compresses like real data and the space
  * metric means something. The charset palette is the real-world one the
  * fix phase must detect: Latin-1 with accents, CP1252 smart punctuation,
  * UTF-8 with a BOM, BOM-less UTF-16LE and UTF-16BE with a BOM. The same
  * seed and size give byte-identical archives (fixed zip entry times).
  */
object MonthGen {

  /** What was generated: archive names, data rows per destination table
    * and the month's size as UTF-8 CSV bytes (the space metric's base).
    */
  case class Month(archives: Seq[String], rows: Map[String, Long],
      csvUtf8Bytes: Long)

  val ListingUrl = "file://rfb/"

  // accents as the dump is full of them; Family's apostrophes and the
  // Motivos quotes are CP1252 smart punctuation, bytes in the C1 range
  // that only a CP1252 decode maps back
  private val Words = Vector("COMERCIO", "SERVICOS", "ALIMENTOS", "SÃO",
    "JOÃO", "CONSTRUÇÃO", "AÇAÍ", "PADARIA", "MÉDICOS", "INDÚSTRIA",
    "TRANSPORTES", "AGROPECUÁRIA", "ÓTICA", "TÊXTIL", "MERCADO", "CAFÉ",
    "BRASÍLIA", "PARAÍBA", "LOGÍSTICA", "TECNOLOGIA", "EDUCAÇÃO", "NORDESTE")
  private val Given = Vector("JOSÉ", "MARIA", "ANTÔNIO", "JOÃO", "ANA",
    "FRANCISCO", "LUCIA", "CONCEIÇÃO", "PAULO", "SEBASTIÃO", "ÂNGELA")
  private val Family = Vector("SILVA", "SANTOS", "OLIVEIRA", "SOUZA",
    "D’ÁVILA", "GONÇALVES", "ARAÚJO", "O’NEILL", "MONTEIRO", "FALCÃO")
  private val Ufs = Vector("SP", "RJ", "MG", "BA", "PR", "RS", "PE", "CE",
    "PA", "SC", "GO", "MA", "AM", "DF")
  private val Streets = Vector("RUA", "AVENIDA", "TRAVESSA", "ALAMEDA",
    "RODOVIA", "PRAÇA")
  private val Cnaes = Vector.tabulate(120)(i => 1111301 + i * 71011)

  private val EntryTime = LocalDateTime.of(2026, 1, 1, 0, 0)

  private def zip(dir: Path, name: String, member: String, cs: Charset,
      bom: Array[Byte], rows: Iterator[String]): Unit = {
    val z = new ZipOutputStream(new BufferedOutputStream(
      new FileOutputStream(dir.resolve(name).toFile), 1 << 16))
    z.setLevel(java.util.zip.Deflater.BEST_SPEED)
    try {
      val e = new ZipEntry(member)
      e.setTimeLocal(EntryTime)
      z.putNextEntry(e)
      z.write(bom)
      val w = new OutputStreamWriter(z, cs)
      rows.foreach { r => w.write(r); w.write('\n') }
      w.flush()
      z.closeEntry()
    } finally z.close()
  }

  /** Writes the month into `dir` (created) and describes it. */
  def write(dir: Path, seed: Long, rowsPerPart: Int): Month = {
    Files.createDirectories(dir)
    val archives = Seq.newBuilder[String]
    val rows = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var csvBytes = 0L
    // one generator per archive, split off a seeded root in a fixed order:
    // each archive's content depends on the seed and its own name only
    val root = new SplittableRandom(seed)
    def add(name: String, member: String, table: String, cs: Charset,
        bom: Array[Byte], n: Int)(row: (SplittableRandom, Int) => String)
        : Unit = {
      val rnd = root.split()
      var count = 0L
      val it = Iterator.range(0, n).map { i =>
        val r = row(rnd, i)
        csvBytes += r.getBytes(StandardCharsets.UTF_8).length + 1
        count += 1
        r
      }
      zip(dir, name, member, cs, bom, it)
      archives += name
      rows(table) += count
    }
    def pick[A](r: SplittableRandom, v: Vector[A]): A = v(r.nextInt(v.size))
    def date(r: SplittableRandom): String =
      f"${1970 + r.nextInt(55)}%04d${1 + r.nextInt(12)}%02d${1 + r.nextInt(28)}%02d"
    def digits(r: SplittableRandom, n: Int): String =
      Iterator.fill(n)(('0' + r.nextInt(10)).toChar).mkString
    def words(r: SplittableRandom, n: Int): String =
      Iterator.fill(1 + r.nextInt(n))(pick(r, Words)).mkString(" ")
    def person(r: SplittableRandom): String =
      s"${pick(r, Given)} ${pick(r, Family)} ${pick(r, Family)}"
    def q(fields: String*): String = fields.map(f => s"\"$f\"").mkString(";")
    // cnpj_basico: a seeded bijection of the row index onto 8 digits, so
    // keys are unique within the month and differ between seeds
    val offset = new SplittableRandom(seed ^ 0x5DEECE66DL).nextInt(100000000)
    def cnpj(id: Long): String =
      f"${((id + offset) * 48271L) % 100000000L}%08d"
    val noBom = Array.emptyByteArray
    val latin1 = StandardCharsets.ISO_8859_1
    val cp1252 = Charset.forName("windows-1252")
    val utf8 = StandardCharsets.UTF_8
    val R = rowsPerPart

    for (p <- 0 until 10)
      add(s"Empresas$p.zip", s"K3241.K03200Y$p.D60111.EMPRECSV",
        "rfb_empresas", latin1, noBom, R) { (r, i) =>
        q(cnpj(p.toLong * R + i), s"${words(r, 4)} LTDA",
          pick(r, Vector("2062", "2135", "2046", "2305", "1015", "3999")),
          pick(r, Vector("49", "05", "10", "16", "65")),
          s"${r.nextInt(5000000)},${digits(r, 2)}",
          pick(r, Vector("00", "01", "03", "05")), "")
      }
    for (p <- 0 until 10)
      add(s"Estabelecimentos$p.zip", s"K3241.K03200Y$p.D60111.ESTABELE",
        "rfb_estabelecimentos", latin1, noBom, R) { (r, i) =>
        val sec = Iterator.fill(r.nextInt(3))(pick(r, Cnaes)).mkString(",")
        val fone = r.nextInt(4) != 0
        q(cnpj(p.toLong * R + i), f"${1 + r.nextInt(3)}%04d", digits(r, 2),
          if (r.nextInt(5) == 0) "2" else "1",
          if (r.nextBoolean()) words(r, 3) else "",
          pick(r, Vector("02", "02", "02", "04", "08")), date(r),
          pick(r, Vector("00", "01", "21", "63")), "", "", date(r),
          pick(r, Cnaes).toString, sec, pick(r, Streets), words(r, 3),
          if (r.nextInt(10) == 0) "S/N" else (1 + r.nextInt(3000)).toString,
          if (r.nextInt(3) == 0) s"SALA ${r.nextInt(900)}" else "",
          words(r, 2), digits(r, 8), pick(r, Ufs),
          f"${r.nextInt(9999) + 1}%04d", digits(r, 2),
          if (fone) digits(r, 8) else "", "", "", "", "",
          if (r.nextInt(3) == 0) s"contato${r.nextInt(100000)}@exemplo.com.br"
          else "", "", "")
      }
    for (p <- 0 until 10)
      add(s"Socios$p.zip", s"K3241.K03200Y$p.D60111.SOCIOCSV",
        "rfb_socios", cp1252, noBom, R) { (r, i) =>
        q(cnpj(p.toLong * R + r.nextInt(R)), (1 + r.nextInt(3)).toString,
          person(r), s"***${digits(r, 6)}**",
          pick(r, Vector("49", "22", "05", "16")), date(r),
          if (r.nextInt(20) == 0) "105" else "", "***000000**", "", "00",
          (1 + r.nextInt(9)).toString)
      }
    add("Simples.zip", "K3241.K03200Y0.D60111.SIMPLES", "rfb_simples", utf8,
      Array(0xEF, 0xBB, 0xBF).map(_.toByte), R) { (r, i) =>
      val mei = r.nextInt(4) == 0
      q(cnpj(r.nextInt(10) * R.toLong + i), if (r.nextBoolean()) "S" else "N",
        date(r), if (r.nextInt(5) == 0) date(r) else "",
        if (mei) "S" else "N", if (mei) date(r) else "", "")
    }
    // dimensions: sizes and key widths of the real tables (the audit's key
    // patterns), one charset hazard each
    add("Cnaes.zip", "F.K03200$Z.D60111.CNAECSV", "rfb_cnaes", utf8, noBom,
      Cnaes.size) { (r, i) => q(Cnaes(i).toString, s"Cultivo de ${words(r, 3)}") }
    add("Motivos.zip", "F.K03200$Z.D60111.MOTIV", "rfb_motivos", cp1252,
      noBom, 60) { (r, i) => q(f"$i%02d", s"Motivo “${words(r, 2)}” $i") }
    add("Municipios.zip", "F.K03200$Z.D60111.MUNIC", "rfb_municipios",
      latin1, noBom, 5570) { (r, i) => q(f"${i + 1}%04d", words(r, 2)) }
    add("Naturezas.zip", "F.K03200$Z.D60111.NATJU", "rfb_naturezas", utf8,
      Array(0xEF, 0xBB, 0xBF).map(_.toByte), 90) { (r, i) =>
      q(f"${1015 + i * 97}%04d", s"Natureza Jurídica ${words(r, 2)}")
    }
    add("Paises.zip", "F.K03200$Z.D60111.PAIS", "rfb_paises",
      StandardCharsets.UTF_16LE, noBom, 255) { (r, i) =>
      q(f"${i + 1}%03d", s"País ${words(r, 2)}")
    }
    add("Qualificacoes.zip", "F.K03200$Z.D60111.QUALS",
      "rfb_qualificacoes", StandardCharsets.UTF_16BE,
      Array(0xFE, 0xFF).map(_.toByte), 68) { (r, i) =>
      q(f"${i + 1}%02d", s"Qualificação ${words(r, 2)}")
    }
    val names = archives.result()
    Files.write(dir.resolve("listing.html"),
      ("<html><body>" + names.map(z => s"""<a href="$z">$z</a>""").mkString +
        """<a href="leiame.pdf">doc</a></body></html>""")
        .getBytes(StandardCharsets.UTF_8))
    Month(names, rows.toMap, csvBytes)
  }
}
