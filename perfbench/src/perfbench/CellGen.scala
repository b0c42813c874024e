package perfbench

import java.util.SplittableRandom

import graft.schema.RawTableRow

/** Seeded dirty cell-table generator.
  *
  * Emits camelot-shaped tables (FIXTURES.md §1-3): area tables with
  * kerned and NBSP-padded headers in the 9-, 7- and 6-column variants,
  * and island tables with three header layouts. Data cells carry the
  * artifacts the cleanse kernels exist for, each at a fixed rate:
  * leading row numbers, line-wrapped names (both the merging and the
  * keep-the-break kind), NBSP/TAB/CR noise, doubled spaces, kerned
  * names, messy DMS coordinates (missing or doubled quotes, smart
  * quotes, Indonesian hemisphere tokens, integer and 3-decimal
  * seconds, unparseable fallbacks) and regency-less island codes.
  *
  * Every dirty value is derived from a clean one, so the generator also
  * knows the exact rows the pipeline must write: `Corpus.expected`
  * holds them per entity, in document order, as the CSV fields.
  */
object CellGen {

  val Entities: Seq[String] =
    Seq("province", "regency", "district", "village", "island")

  final case class Corpus(
      rows: IndexedSeq[RawTableRow],
      expected: Map[String, IndexedSeq[IndexedSeq[String]]]) {
    def counts: Map[String, Long] =
      expected.map { case (e, rs) => e -> rs.length.toLong }
  }

  private val Syllables = IndexedSeq(
    "ba", "ko", "ngan", "se", "la", "tan", "ma", "ra", "pu", "lo", "wa",
    "ti", "de", "sa", "ku", "ning", "ja", "ya", "gi", "ri", "na", "bu",
    "dang", "ke", "ro", "su", "me", "lang", "po", "to", "ha", "ran")
  private val AreaPrefixes =
    IndexedSeq("", "", "", "Kabupaten ", "Kota ", "Desa ", "Kelurahan ")
  private val ProvinceCodes = (11 to 19) ++ (31 to 36) ++ (51 to 53) ++
    (61 to 65) ++ (71 to 76) ++ Seq(81, 82, 91, 92, 93, 94, 95, 96)

  private final class Gen(seed: Long) {
    val rnd = new SplittableRandom(seed)
    def below(n: Int): Int = rnd.nextInt(n)
    def chance(p: Double): Boolean = rnd.nextDouble() < p
    def pick[T](xs: IndexedSeq[T]): T = xs(below(xs.length))

    def word(minSyl: Int): String = {
      val n = minSyl + below(3)
      val w = (0 until n).map(_ => pick(Syllables)).mkString
      w.capitalize
    }
    def baseName(prefixes: IndexedSeq[String]): String =
      pick(prefixes) + (0 until 1 + below(3)).map(_ => word(2)).mkString(" ")
  }

  private val Nbsp = "\u00A0"

  /** A dirty rendering of `clean` and whether normalize_words runs on it
    * (area names only: a kerned single word is re-joined there).
    */
  private def dirtyName(g: Gen, clean: String, area: Boolean): String = {
    val roll = g.rnd.nextDouble()
    val rowNo = (1 + g.below(40)).toString
    val space = clean.indexOf(' ')
    if (roll < 0.45) clean
    else if (roll < 0.55) s"$rowNo $clean" // leading row number
    else if (roll < 0.60) s"$rowNo\n$clean" // number line above the name
    else if (roll < 0.65) s"$clean\n$rowNo" // number line below the name
    else if (roll < 0.72) {
      // a wrap the reference merges back: long first line, <=3-char
      // lowercase fragment
      val k = 1 + g.below(3)
      val cut = clean.length - k
      val head = clean.substring(0, cut)
      val frag = clean.substring(cut)
      if (cut >= 16 && !" -".contains(head.last) &&
          frag.forall(_.isLower)) s"$head\n$frag"
      else s"$Nbsp$clean$Nbsp"
    } else if (roll < 0.78 && space > 0)
      // a wrap that stays a break (becomes a space)
      clean.substring(0, space) + "\n" + clean.substring(space + 1)
    else if (roll < 0.84) s"$Nbsp$clean $Nbsp" // NBSP padding
    else if (roll < 0.88 && space > 0)
      clean.substring(0, space) + "\t" + clean.substring(space + 1)
    else if (roll < 0.90 && space > 0)
      clean.substring(0, space) + "\r " + clean.substring(space + 1)
    else if (roll < 0.96 && space > 0)
      clean.substring(0, space) + "   " + clean.substring(space + 1)
    else if (area && space < 0) clean.mkString(" ") // kerned single word
    else s" $clean  "
  }

  /** A canonical DMS pair plus a messy rendering of it; unparseable
    * renderings come with their normalized-fallback expectation.
    */
  private def coordinate(g: Gen): (String, String) = {
    val south = g.chance(0.3)
    val latD = f"${g.below(11)}%02d"
    val lonD = f"${95 + g.below(47)}%03d"
    val latM = f"${g.below(60)}%02d"
    val lonM = f"${g.below(60)}%02d"
    val latS = f"${g.below(60)}%02d.${g.below(100)}%02d"
    val lonS = f"${g.below(60)}%02d.${g.below(100)}%02d"
    val latH = if (south) "S" else "N"
    val canon = s"""$latD°$latM'$latS" $latH $lonD°$lonM'$lonS" E"""
    val uLat = if (south) "S" else "U"
    val roll = g.rnd.nextDouble()
    if (roll < 0.40)
      (s"""$latD°$latM'$latS" $uLat $lonD°$lonM'$lonS" T""", canon)
    else if (roll < 0.50) // seconds quotes missing
      (s"$latD°$latM'$latS $uLat $lonD°$lonM'$lonS T", canon)
    else if (roll < 0.60) // spaces inside the DMS groups
      (s"""$latD ° $latM ' $latS " $uLat   $lonD° $lonM' $lonS" T""", canon)
    else if (roll < 0.68) // doubled quotes
      (s"""$latD°$latM'$latS"" $uLat $lonD°$lonM'$lonS"" T""", canon)
    else if (roll < 0.76) { // smart quotes, two-letter hemisphere tokens
      val h = if (south) "LS" else "LU"
      (s"$latD°$latM\u2019$latS\u201D $h $lonD°$lonM\u2019$lonS\u201D BT", canon)
    } else if (roll < 0.84) { // integer seconds -> ".00"
      val ls = latS.take(2)
      val os = lonS.take(2)
      (s"""$latD°$latM'$ls" $uLat $lonD°$lonM'$os" T""",
        s"""$latD°$latM'$ls.00" $latH $lonD°$lonM'$os.00" E""")
    } else if (roll < 0.90) { // three decimals truncate to two
      (s"""$latD°$latM'${latS}7" $uLat $lonD°$lonM'${lonS}3" T""", canon)
    } else if (roll < 0.94) // latitude only: normalized fallback
      (s"""$latD°$latM'$latS"  $uLat""", s"""$latD°$latM'$latS" $latH""")
    else if (roll < 0.97) ("-", "-")
    else ("", "")
  }

  private def areaTable(
      g: Gen, tableId: Long, page: Int, seq0: Long, nRows: Int,
      out: scala.collection.mutable.Map[String, IndexedSeq[IndexedSeq[String]]],
      seenProvinces: scala.collection.mutable.Set[String])
      : IndexedSeq[RawTableRow] = {
    val width = { val r = g.below(20); if (r < 14) 9 else if (r < 17) 7 else 6 }
    val nameCols = if (width == 6) IndexedSeq(3) else IndexedSeq(4, 5, 6)
    val kode = g.pick(IndexedSeq("K O D E", "K o d e", "KODE",
      s"K${Nbsp}O${Nbsp}D${Nbsp}E", " Kode "))
    val nama = g.pick(IndexedSeq("NAMA PROVINSI / KABUPATEN / KOTA",
      "Nama Provinsi/Kabupaten/Kota", s"${Nbsp}NAMA PROVINSI / KAB / KOTA"))
    val header = (IndexedSeq(kode, nama, "JUMLAH", "", "N A M A / J U M L A H",
      "", "", "LUAS WILAYAH (Km2)", "K E T E R A N G A N")).take(width)
      .padTo(width, "")
    val banner = (IndexedSeq("", "KAB", "KOTA", "KECAMATAN", "KELURAHAN",
      "D E S A", "", "", "")).take(width).padTo(width, "")
    val rows = IndexedSeq.newBuilder[IndexedSeq[String]]
    rows += header
    rows += banner

    val prov = f"${g.pick(ProvinceCodes)}%02d"
    var regency = 0
    var district = 0
    var village = 0
    var data = 2
    def emit(code: String, clean: String, entity: String, parent: String): Unit = {
      val cells = Array.fill(width)("")
      val dirtyCode = g.below(20) match {
        case 0 => s" $code "
        case 1 => s"$code$Nbsp"
        case _ => code
      }
      cells(0) = dirtyCode
      val empty = g.chance(0.02)
      val nameIdx = if (g.chance(0.85)) 1 else g.pick(nameCols)
      if (!empty) cells(nameIdx) = dirtyName(g, clean, area = true)
      if (entity != "village") cells(2) = g.below(300).toString
      rows += cells.toIndexedSeq
      data += 1
      if (!empty) {
        val fields =
          if (entity == "province") IndexedSeq(code, clean)
          else IndexedSeq(code, parent, clean)
        if (entity != "province" || seenProvinces.add(code))
          out(entity) = out(entity) :+ fields
      }
    }
    // the table opens with its province banner row, then walks the tree
    emit(prov, g.baseName(IndexedSeq("")), "province", "")
    while (data < nRows - 1) {
      val roll = g.below(10)
      if (regency == 0 || roll == 0) {
        regency += 1; district = 0; village = 0
        val code = f"$prov.${regency % 100}%02d"
        emit(code, g.baseName(IndexedSeq("Kabupaten ", "Kota ")), "regency", prov)
      } else if (district == 0 || roll <= 2) {
        district += 1; village = 0
        val reg = f"$prov.${regency % 100}%02d"
        emit(f"$reg.${district % 100}%02d", g.baseName(AreaPrefixes), "district", reg)
      } else if (roll == 3 && g.chance(0.3)) {
        // a continuation line with no code: dropped by the pipeline
        val cells = Array.fill(width)("")
        cells(1) = g.word(2)
        rows += cells.toIndexedSeq
        data += 1
      } else {
        village += 1
        val dis = f"$prov.${regency % 100}%02d.${district % 100}%02d"
        emit(f"$dis.${2000 + village % 8000}%04d", g.baseName(AreaPrefixes),
          "village", dis)
      }
    }
    // closing total row: its code never classifies
    rows += (IndexedSeq("JUMLAH", "", "" + g.below(9000)) ++
      IndexedSeq.fill(width - 3)("")).take(width)
    rows.result().zipWithIndex.map { case (cells, i) =>
      RawTableRow(tableId, page, i, seq0 + i, cells)
    }
  }

  private val IslandLayouts = IndexedSeq(
    // header, code, name, coordinate, status, info columns
    (IndexedSeq("No", "Kode Pulau", "Nama Pulau", "Koordinat", "BP/TBP",
      "Keterangan"), 1, 2, 3, 4, 5),
    (IndexedSeq("Kode Pulau", "Nama Provinsi, Kabupaten/Kota, Pulau",
      "Jumlah", "Koordinat", "Luas", "BP/TBP", "Keterangan"), 0, 1, 3, 5, 6),
    (IndexedSeq("NO", "KODE PULAU", "N A M A  P U L A U", "K O R D I N A T",
      "S T A T U S", "K E T"), 1, 2, 3, 4, 5))

  private def islandTable(
      g: Gen, tableId: Long, page: Int, seq0: Long, nRows: Int,
      out: scala.collection.mutable.Map[String, IndexedSeq[IndexedSeq[String]]])
      : IndexedSeq[RawTableRow] = {
    val (header, cCode, cName, cCoord, cStatus, cInfo) = g.pick(IslandLayouts)
    val width = header.length
    val rows = IndexedSeq.newBuilder[IndexedSeq[String]]
    if (g.chance(0.3)) // a title line above the header row
      rows += ("DAFTAR PULAU" +: IndexedSeq.fill(width - 1)(""))
    rows += header
    var n = rows.result().length
    val prov = f"${g.pick(ProvinceCodes)}%02d"
    var reg = 1 + g.below(60)
    var island = 0
    while (n < nRows) {
      val cells = Array.fill(width)("")
      if (island == 0 || g.chance(0.08)) {
        // regency banner row: fails the island-code pattern
        if (island > 0) reg += 1
        cells(cCode) = f"$prov.${reg % 100}%02d"
        cells(cName) = g.baseName(IndexedSeq("Kabupaten ", "Kota "))
        island += 1
      } else {
        island += 1
        val regencyLess = g.chance(0.05)
        val rr = if (regencyLess) "00" else f"${reg % 100}%02d"
        val code = f"$prov.$rr.${40000 + island % 60000}%05d"
        val clean = if (g.chance(0.02)) "" else g.baseName(IndexedSeq("Pulau "))
        val (coord, canon) = coordinate(g)
        val (status, pop) = g.below(6) match {
          case 0 => ("BP", "1")
          case 1 => ("bp", "1")
          case 2 => (" BP (berpenghuni)", "1")
          case 3 => ("", "0")
          case _ => ("TBP", "0")
        }
        val (info, ppkt) = g.below(8) match {
          case 0 => ("(PPKT)", "1")
          case 1 => ("ppkt terluar", "1")
          case 2 => ("-", "0")
          case _ => ("", "0")
        }
        cells(cCode) = if (g.chance(0.05)) s"$code$Nbsp" else code
        if (clean.nonEmpty) cells(cName) = dirtyName(g, clean, area = false)
        cells(cCoord) = coord
        cells(cStatus) = status
        cells(cInfo) = info
        out("island") = out("island") :+ IndexedSeq(code,
          if (regencyLess) "" else code.substring(0, 5), canon, pop, ppkt,
          clean)
      }
      rows += cells.toIndexedSeq
      n += 1
    }
    rows.result().zipWithIndex.map { case (cells, i) =>
      RawTableRow(tableId, page, i, seq0 + i, cells)
    }
  }

  /** `tables` tables of `rowsPerTable` rows, alternating area and island
    * tables (exactly half each), ids and `seq` in document order.
    */
  def corpus(seed: Long, tables: Int, rowsPerTable: Int): Corpus = {
    val g = new Gen(seed)
    val out = scala.collection.mutable.Map[String, IndexedSeq[IndexedSeq[String]]](
      Entities.map(_ -> IndexedSeq.empty[IndexedSeq[String]]): _*)
    val seen = scala.collection.mutable.Set.empty[String]
    val rows = IndexedSeq.newBuilder[RawTableRow]
    var seq = 0L
    for (t <- 0 until tables) {
      val page = 1 + t / 3
      val table =
        if (t % 2 == 0) areaTable(g, t.toLong, page, seq, rowsPerTable, out, seen)
        else islandTable(g, t.toLong, page, seq, rowsPerTable, out)
      rows ++= table
      seq += table.length
    }
    Corpus(rows.result(), out.toMap)
  }
}
