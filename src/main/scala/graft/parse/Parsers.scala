package graft.parse

/** Pure text→rows line machines for the three bank-document families the
  * reference parses with driver-side pdfplumber+pandas (SURVEY §2.9 U3):
  * BB credit-card bill (bb_bill.py:169-229), BB checking statement
  * (bb_statement.py:84-202), Bradesco bill (bradesco_bill.py:108-312).
  *
  * Architecture: the reference parses ONE document at a time on the
  * driver — its scaling anti-pattern (SURVEY §3.1). Here each parser is a
  * pure `String => Seq[Row-case-class]` fold over lines, applied
  * executor-side via `flatMap` on a `Dataset[(docId, text)]` — per-document
  * state lives inside a single row's computation, so thousands of documents
  * parse in parallel with zero driver involvement and no cross-row state.
  *
  * Layout coverage: each parser handles BOTH the layout the reference's
  * regexes were written for AND the layout of the reference's actually
  * checked-in PDF corpus (spark/scripts/data/raw/drive/...), which has
  * drifted from the regexes: the real BB statements mark amounts with
  * trailing C/D instead of `(+)/(-)`, and the real Bradesco bills use a
  * "Gastos referentes ao cartão: Final NNNN" card header with day/month
  * markers stacked in a date column instead of `dd/MM` row prefixes. The
  * reference's own parser returns zero rows on those files; the engine
  * parses both generations (proven against the real corpus in
  * RealPdfSpec).
  *
  * Documented divergence: for the Bradesco desc/city split the reference
  * greedily claims the trailing 3 tokens as the city when possible
  * (bradesco_bill.py split_desc_city), which turns e.g. "SUPERMERCADO
  * PINHEIRO FORTALEZA" into desc "SUPERMERCADO" / city "PINHEIRO
  * FORTALEZA". The engine keeps the single trailing uppercase token as the
  * city, which matches how the statement columns are actually laid out.
  */
object Parsers {

  /** normalize_space (F3, bb_bill.py:24-25): collapse blanks, trim. */
  private def normSpace(s: String): String = s.replaceAll("[ \\t\u00a0]+", " ").trim

  /** pt-BR money string → Double (scalar twin of functions.money.brlToDouble,
    * for use inside executor-side parsers). */
  def brl(s: String): Option[Double] = {
    val cleaned = s.replaceAll("R\\$|[\\s ]", "")
    val trailing = cleaned.endsWith("-")
    val canon = (if (trailing) cleaned.dropRight(1) else cleaned)
      .replace(".", "").replace(",", ".")
    if (canon.matches("-?\\d+(\\.\\d+)?"))
      Some(if (trailing) -canon.toDouble else canon.toDouble)
    else None
  }

  // ---------- BB credit-card bill --------------------------------------

  /** One bill transaction (fatura_bb_lancamentos, FIXTURES §2). */
  final case class BBBillTxn(
      titular_cartao: String, final_cartao: String, data: String,
      pais: String, descricao: String, valor: Double)

  /** Card-context line (bb_bill.py:172 `card_re`, IGNORECASE): any holder
    * text before `(Cartão NNNN)` — the real faturas use mixed-case names. */
  private val CardContext = """(?i)^(.*?)\s*\(cart[ãa]o\s+(\d{4})\)$""".r
  private val BillTxn     = """^(\d{2}/\d{2}) (.+?)(?: ([A-Z]{2}))? R\$ ?(-?[\d.,]+)$""".r

  /** Fold over bill lines: card-context lines set (holder, final); txn
    * lines emit rows under the current context (bb_bill.py:184-229;
    * country-less lines fall through to the `txn_re_no_country` shape with
    * a NULL país). */
  def parseBBBill(text: String): Seq[BBBillTxn] = {
    final case class St(holder: String, card: String, out: Vector[BBBillTxn])
    text.linesIterator.map(normSpace).filter(_.nonEmpty)
      .foldLeft(St(null, null, Vector.empty)) { (st, line) =>
        line match {
          case CardContext(holder, card) if holder.trim.nonEmpty =>
            St(normSpace(holder), card, st.out)
          case BillTxn(data, desc, pais, valor) =>
            brl(valor) match {
              case Some(v) =>
                st.copy(out = st.out :+
                  BBBillTxn(st.holder, st.card, data, pais, normSpace(desc), v))
              case None => st
            }
          case _ => st
        }
      }.out
  }

  // ---------- BB checking-account statement ----------------------------

  /** One statement movement (extrato_bb_lancamentos, FIXTURES §3). */
  final case class ExtratoTxn(
      data: String, lote: String, documento: String, grupo: String,
      historico: String, complemento: String, historico_full: String,
      valor: Double, sinal: String)

  private val StmtTxn  = """^(\d{2}/\d{2}/\d{4})(?: (\d{2,}))?(?: (\d{2,}))? (.+?) ([\d.,]+) \(([+-])\)$""".r
  /** Real-layout movement: trailing C (credit) / D (debit) marker, with an
    * optional day-balance pair after it ("Autoatendimento BB" statements:
    * `dd/MM/yyyy … valor C|D [saldo C|D]`). */
  private val CdTxn    = """^(\d{2}/\d{2}/\d{4}) (.*?) ?([\d.,]+) ([CD])(?: [\d.,]+ [CD])?$""".r
  private val GroupLine = """^[A-Za-zÀ-ÿ][A-Za-zÀ-ÿ /.-]*$""".r
  private val NumToken  = """^[\d.]{3,}$""".r

  /** Line machine with group-section state and continuation-line append
    * (bb_statement.py:84-202): non-transaction mixed-case alpha lines set
    * the current `grupo`; ALL-CAPS lines right after a movement append to
    * its `complemento` (the real statements wrap payee names onto a
    * second line). Handles both the `(+)/(-)` layout and the real
    * C/D-marker layout. */
  def parseExtrato(text: String): Seq[ExtratoTxn] = {
    final case class St(grupo: String, out: Vector[ExtratoTxn], open: Boolean)
    def emit(st: St, t: ExtratoTxn): St = st.copy(out = st.out :+ t, open = true)
    val res = text.linesIterator.map(normSpace).filter(_.nonEmpty)
      .foldLeft(St(null, Vector.empty, false)) { (st, line) =>
        line match {
          case StmtTxn(data, lote, doc, hist, valor, sinal) =>
            brl(valor) match {
              case Some(v) =>
                val signed = if (sinal == "-") -v else v
                emit(st, ExtratoTxn(data, lote, doc, st.grupo,
                  normSpace(hist), null, normSpace(hist), signed, sinal))
              case None => st.copy(open = false)
            }
          case CdTxn(data, middle, valor, cd) =>
            brl(valor) match {
              case Some(v) =>
                val sinal = if (cd == "C") "+" else "-"
                val signed = if (cd == "C") v else -v
                // last [\d.]{3,} token of the middle is the Documento column
                val toks = normSpace(middle).split(" ").toVector
                val docIdx = toks.lastIndexWhere(NumToken.matches)
                val doc = if (docIdx >= 0) toks(docIdx) else null
                val hist = normSpace(
                  (if (docIdx >= 0) toks.patch(docIdx, Nil, 1) else toks).mkString(" "))
                emit(st, ExtratoTxn(data, null, doc, st.grupo,
                  hist, null, hist, signed, sinal))
              case None => st.copy(open = false)
            }
          // ALL-CAPS detail line right after a movement → continuation
          // appended to complemento (bb_statement.py continuation handling);
          // mixed-case alpha lines are section/group headers.
          case cont if st.open && st.out.nonEmpty &&
              cont == cont.toUpperCase(java.util.Locale.ROOT) &&
              cont.matches("[A-ZÀ-Þ][A-ZÀ-Þ0-9 .,/-]*") =>
            val last = st.out.last
            val comp = if (last.complemento == null) cont
                       else last.complemento + " " + cont
            st.copy(out = st.out.init :+ last.copy(
              complemento = comp, historico_full = last.historico + " | " + comp))
          case GroupLine() => St(line, st.out, open = false)
          case _ => st.copy(open = false)
        }
      }
    res.out
  }

  // ---------- Bradesco credit-card bill --------------------------------

  /** One Bradesco bill row (fatura_bradesco_lancamentos, FIXTURES §4). */
  final case class BradescoTxn(
      data: String, descricao: String, cidade: String, valor: Double,
      tipo: String, titular_cartao: String, cartao_final: String)

  private val BradCard = """(?i)^(.+?) cart[ãa]o \d{4} X{4} X{4} (\d{4})$""".r
  private val BradCardNoHolder = """(?i)^cart[ãa]o \d{4} X{4} X{4} (\d{4})$""".r
  /** `card_number_re` (bradesco_bill.py:118-121): updates only the card. */
  private val BradCardNumber = """(?i)^n[uú]mero do cart[ãa]o \d{4} X{4} X{4} (\d{4})$""".r
  private val BradPay  = """(?i)^(\d{2}/\d{2}) (PAGTO\.?.*?) ([\d.,]+-?)$""".r
  private val BradTxn  = """^(\d{2}/\d{2}) (.+?) (-?[\d.,]+-?)$""".r

  // New-layout ("Gastos referentes") machinery — the layout of the
  // reference's actually checked-in Bradesco bills.
  private val BradGastos =
    """(?i)^gastos referentes ao cart[ãa]o:\s*final\s*(\d{4})\s*\|\s*(.+?)(?:\s+valor da fatura.*)?$""".r
  private val BradDay   = """^(\d{1,2})$""".r
  private val BradMonth = """^(JAN|FEV|MAR|ABR|MAI|JUN|JUL|AGO|SET|OUT|NOV|DEZ)$""".r
  private val BradNewTxn = """^(.+?) (-?\d{1,3}(?:\.\d{3})*,\d{2})$""".r
  private val monthNum = Map("JAN" -> "01", "FEV" -> "02", "MAR" -> "03",
    "ABR" -> "04", "MAI" -> "05", "JUN" -> "06", "JUL" -> "07", "AGO" -> "08",
    "SET" -> "09", "OUT" -> "10", "NOV" -> "11", "DEZ" -> "12")

  /** Ignore-list sanitation (bradesco_bill.py:168-198 `ignore_contains` +
    * short-line rule). */
  private val ignoreContains = Seq(
    "página ", "número do cartão", "cotação", "data histórico", "do dólar",
    "central de atendimento", "mensagem importante", "programa de fidelidade",
    "pontos acumulados", "saldo de pontos", "associado", "para consultar",
    "juros", "iof", "valor em r$", "taxas mensais", "crédito rotativo",
    "pagamento de contas", "parcelamento fatura", "compras parceladas",
    "total da fatura em real", "total da fatura", "total utilizado",
    "disponível em", "limites", "limite de compras", "limite de saque",
    "compras r$", "saque r$")

  private val ignorePrefixes =
    Seq("SALDO ANTERIOR", "TOTAL ", "LIMITE ", "VENCIMENTO")

  /** Mid-line report-column cuts (bradesco_bill.py:200-217 sanitize_line). */
  private val sanitizeCuts = Seq(
    " Total para as próximas faturas", " Compras R$", " Saque R$",
    " Total Utilizado", " Disponível em", " Taxas mensais",
    " Pagamento de Contas", " Parcelamento Fatura", " Compras Parceladas",
    " Crédito Rotativo")

  private val MoneyToken = """\b\d{1,3}(?:\.\d{3})*,\d{2}-?\b""".r
  private val DatePrefix = """^\d{2}/\d{2}\s""".r

  private def isIgnored(ln: String): Boolean = {
    val l = ln.toLowerCase(java.util.Locale.ROOT)
    (DatePrefix.findFirstIn(ln).isEmpty && ln.length < 8 && BradDay.findFirstIn(ln).isEmpty &&
      BradMonth.findFirstIn(ln).isEmpty) ||
      ignoreContains.exists(l.contains) || ignorePrefixes.exists(ln.startsWith)
  }

  private def sanitize(ln: String): String =
    sanitizeCuts.foldLeft(ln) { (s, c) =>
      val i = s.indexOf(c)
      if (i >= 0) s.substring(0, i).trim else s
    }

  /** City heuristic: trailing alphabetic token of length ≥ 4 that is fully
    * uppercase (see the documented divergence in the object scaladoc). */
  private[parse] def splitCity(desc: String): (String, String) = {
    val toks = desc.split(" ")
    if (toks.length >= 2 && toks.last.matches("[A-ZÀ-ÿ]{4,}"))
      (toks.init.mkString(" "), toks.last)
    else (desc, null)
  }

  def parseBradesco(text: String): Seq[BradescoTxn] = {
    val lines = text.linesIterator.map(normSpace).filter(_.nonEmpty).toVector
    if (lines.exists(l => BradGastos.findFirstIn(l).isDefined)) parseBradescoNew(lines)
    else parseBradescoOld(lines)
  }

  /** Classic layout: `dd/MM desc [city] valor` rows under
    * `TITULAR Cartão NNNN XXXX XXXX NNNN` context lines
    * (bradesco_bill.py:108-312). */
  private def parseBradescoOld(lines: Vector[String]): Seq[BradescoTxn] = {
    final case class St(holder: String, card: String, out: Vector[BradescoTxn])
    lines.foldLeft(St(null, null, Vector.empty)) { (st0, line0) =>
      line0 match {
        case BradCardNumber(card) => st0.copy(card = card)
        case BradCardNoHolder(card) => St(null, card, st0.out)
        case BradCard(holder, card)
            // false-positive + "titular is 2+ words" guards (bradesco_bill.py:128-150)
            if !holder.toLowerCase(java.util.Locale.ROOT).contains("mero do cart") &&
              holder.trim.split(" ").length >= 2 =>
          St(normSpace(holder).toUpperCase(java.util.Locale.ROOT), card, st0.out)
        case _ if isIgnored(line0) => st0
        case _ =>
          val st = st0
          val line = sanitize(line0)
          line match {
            case "" => st
            case BradPay(data, desc, valor) =>
              brl(valor).fold(st)(v => st.copy(out = st.out :+
                BradescoTxn(data, normSpace(desc), null, v, "pagamento", st.holder, st.card)))
            // contaminated report line: 2+ money tokens (bradesco_bill.py:283-286)
            case l if DatePrefix.findFirstIn(l).isDefined &&
                MoneyToken.findAllIn(l).size >= 2 => st
            case BradTxn(data, desc, valor) =>
              brl(valor).fold(st) { v =>
                val (d, city) = splitCity(normSpace(desc))
                val tipo = if (v < 0) "ajuste" else "compra"
                st.copy(out = st.out :+
                  BradescoTxn(data, d, city, v, tipo, st.holder, st.card))
              }
            case _ => st
          }
      }
    }.out
  }

  // ---------- Bradesco checking-account statement -----------------------

  /** One Bradesco statement movement. The reference classifies
    * `extrato_bradesco` landings but never built the extractor
    * (etls_raw/main.py:231-232 — "se você vier a criar o extractor");
    * the engine completes the family against the real checked-in
    * statements. */
  final case class BradescoMov(
      data: String, historico: String, documento: String,
      valor: Double, saldo: java.lang.Double, complemento: String)

  private val ShortDate = """\d{2}/\d{2}/\d{2}"""
  private val MoneyPart = """\d{1,3}(?:\.\d{3})*,\d{2}"""
  /** `[dd/MM/yy] [HIST]? doc(6+) [-] valor [[-] saldo]` — the debit
    * column renders its minus as a separate token. */
  private val BradMov =
    (s"""^($ShortDate )?(.*?)(\\d{6,}) (- )?($MoneyPart)( (- )?($MoneyPart))?$$""").r
  private val BradMovNoDoc =
    (s"""^($ShortDate) (.+?) (- )?($MoneyPart)( (- )?($MoneyPart))?$$""").r
  private val ContinuationStart = Seq("Rem:", "Des:", "Remet")
  private val SectionClosers = Seq("Total", "Os dados", "Lançamentos Futuros",
    "Saldos Invest", "Data Histórico", "Fone Fácil", "Extrato de:")

  /** Line machine over the real statement layout: short alpha lines carry
    * the next movement's histórico (`Transfe Pix` renders above its row);
    * undated rows inherit the last seen date; `Rem:`/`Des:`/free-text
    * lines append to the open movement's complemento; Saldo rows
    * (SALDO ANTERIOR, Saldo Invest Fácil) and section totals are not
    * movements. */
  def parseBradescoExtrato(text: String): Seq[BradescoMov] = {
    final case class St(date: String, pendingHist: String,
        out: Vector[BradescoMov], open: Boolean)
    def money(sign: String, v: String): Double =
      brl(v).map(x => if (sign != null) -x else x).getOrElse(0.0)
    def emit(st: St, date: String, hist0: String, doc: String,
        vSign: String, v: String, sSign: String, sv: String): St = {
      val hist = if (hist0 != null && hist0.trim.nonEmpty) normSpace(hist0)
                 else st.pendingHist
      val d = if (date != null) date.trim else st.date
      if (hist != null && hist.startsWith("Saldo")) st.copy(date = d, open = false)
      else St(d, null, st.out :+ BradescoMov(d, hist, doc,
        money(vSign, v),
        if (sv == null) null else Double.box(money(sSign, sv)), null), open = true)
    }
    text.linesIterator.map(normSpace).filter(_.nonEmpty)
      .foldLeft(St(null, null, Vector.empty, false)) { (st, line) =>
        line match {
          case l if SectionClosers.exists(l.startsWith) =>
            st.copy(pendingHist = null, open = false)
          case BradMov(date, hist, doc, vSign, v, _, sSign, sv) =>
            emit(st, date, hist, doc, vSign, v, sSign, sv)
          case BradMovNoDoc(date, hist, vSign, v, _, sSign, sv)
              if !normSpace(hist).startsWith("Saldo") && !hist.toUpperCase(
                java.util.Locale.ROOT).startsWith("SALDO") =>
            emit(st, date, hist, null, vSign, v, sSign, sv)
          case l if ContinuationStart.exists(l.startsWith) && st.open && st.out.nonEmpty =>
            val last = st.out.last
            val comp = if (last.complemento == null) l else last.complemento + " " + l
            st.copy(out = st.out.init :+ last.copy(complemento = comp))
          case l if !l.exists(_.isDigit) && l.length <= 20 =>
            st.copy(pendingHist = l, open = false)
          case l if st.open && st.out.nonEmpty =>
            val last = st.out.last
            val comp = if (last.complemento == null) l else last.complemento + " " + l
            st.copy(out = st.out.init :+ last.copy(complemento = comp))
          case _ => st.copy(open = false)
        }
      }.out
  }

  /** Real checked-in layout: `Gastos referentes ao cartão: Final NNNN |
    * TITULAR` blocks; a narrow date column renders the day number just
    * above and the month abbreviation just below each first-transaction
    * baseline, so day/month arrive as their own lines sandwiching the
    * `DESC valor` rows. Month markers resolve per day-block after the
    * fold (they trail the first row of their block). */
  private def parseBradescoNew(lines: Vector[String]): Seq[BradescoTxn] = {
    final case class Pending(day: String, block: Int, desc: String, valor: Double,
        tipo: String, holder: String, card: String)
    final case class St(holder: String, card: String, day: String, block: Int,
        months: Map[Int, String], out: Vector[Pending])
    val st = lines.foldLeft(St(null, null, null, -1, Map.empty, Vector.empty)) { (st, line) =>
      line match {
        case BradGastos(card, holder) =>
          st.copy(holder = normSpace(holder).toUpperCase(java.util.Locale.ROOT), card = card)
        case BradDay(d) if st.card != null =>
          st.copy(day = f"${d.toInt}%02d", block = st.block + 1)
        case BradMonth(m) if st.card != null && st.block >= 0 &&
            !st.months.contains(st.block) =>
          st.copy(months = st.months + (st.block -> monthNum(m)))
        case _ if isIgnored(line) => st
        case BradNewTxn(desc, valor) if st.card != null && st.day != null =>
          brl(valor).fold(st) { v =>
            val d = normSpace(desc)
            val tipo =
              if (d.toUpperCase(java.util.Locale.ROOT).startsWith("PAGTO")) "pagamento"
              else if (v < 0) "ajuste" else "compra"
            st.copy(out = st.out :+ Pending(st.day, st.block, d, v, tipo, st.holder, st.card))
          }
        case _ => st
      }
    }
    // resolve each block's month: its own marker, else nearest earlier block
    val maxBlock = if (st.out.isEmpty) -1 else st.out.map(_.block).max
    val resolved = (0 to maxBlock).scanLeft(Option.empty[String]) { (prev, b) =>
      st.months.get(b).orElse(prev)
    }.drop(1).toVector
    def monthOf(b: Int): String =
      resolved.lift(b).flatten
        .orElse(resolved.flatten.headOption)
        .getOrElse("01")
    st.out.map(p => BradescoTxn(s"${p.day}/${monthOf(p.block)}", p.desc, null,
      p.valor, p.tipo, p.holder, p.card))
  }
}
