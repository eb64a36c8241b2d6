package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Double Metaphone (Philips, C/C++ Users Journal 2000) — the
  * two-code successor of Metaphone: a PRIMARY key plus an ALTERNATE
  * key capturing a second plausible pronunciation (e.g. foreign-origin
  * surnames: SMITH → XMT/SMT), so phonetic blocking can match on
  * either. The reference's phonetic surface is nvtext-adjacent fuzzy
  * matching; this follows the published rule set as standardized by
  * Apache commons-codec 1.x (the de-facto reference implementation,
  * which the test suite uses as an independent referee — see
  * ExpressionsSpec "DoubleMetaphone matches commons-codec").
  *
  * Scalar, branch-heavy, O(len): codegen emits a static call so
  * whole-stage spans stay intact (same pattern as [[Metaphone]]).
  */
object DoubleMetaphoneImpl {
  private val MaxLen = 4
  private val Vowels = "AEIOUY"
  private val SilentStart = Array("GN", "KN", "PN", "WR", "PS")
  private val LRNMBHFVW = Array("L", "R", "N", "M", "B", "H", "F", "V", "W", " ")
  private val LTKSNMBZ = Array("L", "T", "K", "S", "N", "M", "B", "Z")
  private val EsEpEbElEyIbIlInIeEiEr =
    Array("ES", "EP", "EB", "EL", "EY", "IB", "IL", "IN", "IE", "EI", "ER")

  def primary(input: String): String = {
    val r = run(input); if (r == null) null else r._1
  }

  def alternate(input: String): String = {
    val r = run(input); if (r == null) null else r._2
  }

  private final class Result {
    val p = new java.lang.StringBuilder(MaxLen)
    val a = new java.lang.StringBuilder(MaxLen)
    def appendP(c: Char): Unit = if (p.length() < MaxLen) { p.append(c); () }
    def appendA(c: Char): Unit = if (a.length() < MaxLen) { a.append(c); () }
    def append(c: Char): Unit = { appendP(c); appendA(c) }
    def append(c: Char, alt: Char): Unit = { appendP(c); appendA(alt) }
    def appendP(s: String): Unit = {
      val n = MaxLen - p.length()
      if (n > 0) { p.append(if (s.length <= n) s else s.substring(0, n)); () }
    }
    def appendA(s: String): Unit = {
      val n = MaxLen - a.length()
      if (n > 0) { a.append(if (s.length <= n) s else s.substring(0, n)); () }
    }
    def append(s: String): Unit = { appendP(s); appendA(s) }
    def append(s: String, alt: String): Unit = { appendP(s); appendA(alt) }
    def complete: Boolean = p.length() >= MaxLen && a.length() >= MaxLen
  }

  private def charAt(v: String, i: Int): Char =
    if (i < 0 || i >= v.length) Character.MIN_VALUE else v.charAt(i)

  private def isVowel(c: Char): Boolean = Vowels.indexOf(c) >= 0

  private def contains(v: String, start: Int, len: Int,
      crit: String*): Boolean =
    start >= 0 && start + len <= v.length && {
      val t = v.substring(start, start + len)
      crit.exists(_ == t)
    }

  private def containsA(v: String, start: Int, len: Int,
      crit: Array[String]): Boolean =
    start >= 0 && start + len <= v.length && {
      val t = v.substring(start, start + len)
      crit.exists(_ == t)
    }

  private def isSlavoGermanic(v: String): Boolean =
    v.indexOf('W') >= 0 || v.indexOf('K') >= 0 ||
      v.contains("CZ") || v.contains("WITZ")

  private def isSilentStart(v: String): Boolean =
    SilentStart.exists(v.startsWith)

  private def run(input: String): (String, String) = {
    if (input == null) return null
    val cleaned = input.trim.toUpperCase(java.util.Locale.ENGLISH)
    if (cleaned.isEmpty) return null
    val v = cleaned
    val slavoGermanic = isSlavoGermanic(v)
    var index = if (isSilentStart(v)) 1 else 0
    val r = new Result
    while (!r.complete && index <= v.length - 1) {
      v.charAt(index) match {
        case 'A' | 'E' | 'I' | 'O' | 'U' | 'Y' =>
          if (index == 0) r.append('A')
          index += 1
        case 'B' =>
          r.append('P')
          index += (if (charAt(v, index + 1) == 'B') 2 else 1)
        case 'Ç' =>
          r.append('S'); index += 1
        case 'C' => index = handleC(v, r, index)
        case 'D' => index = handleD(v, r, index)
        case 'F' =>
          r.append('F')
          index += (if (charAt(v, index + 1) == 'F') 2 else 1)
        case 'G' => index = handleG(v, r, index, slavoGermanic)
        case 'H' => index = handleH(v, r, index)
        case 'J' => index = handleJ(v, r, index, slavoGermanic)
        case 'K' =>
          r.append('K')
          index += (if (charAt(v, index + 1) == 'K') 2 else 1)
        case 'L' => index = handleL(v, r, index)
        case 'M' =>
          r.append('M')
          index += (if (conditionM0(v, index)) 2 else 1)
        case 'N' =>
          r.append('N')
          index += (if (charAt(v, index + 1) == 'N') 2 else 1)
        case 'Ñ' =>
          r.append('N'); index += 1
        case 'P' => index = handleP(v, r, index)
        case 'Q' =>
          r.append('K')
          index += (if (charAt(v, index + 1) == 'Q') 2 else 1)
        case 'R' => index = handleR(v, r, index, slavoGermanic)
        case 'S' => index = handleS(v, r, index, slavoGermanic)
        case 'T' => index = handleT(v, r, index)
        case 'V' =>
          r.append('F')
          index += (if (charAt(v, index + 1) == 'V') 2 else 1)
        case 'W' => index = handleW(v, r, index)
        case 'X' => index = handleX(v, r, index)
        case 'Z' => index = handleZ(v, r, index, slavoGermanic)
        case _ => index += 1
      }
    }
    (r.p.toString, r.a.toString)
  }

  private def conditionC0(v: String, index: Int): Boolean = {
    if (contains(v, index, 4, "CHIA")) true
    else if (index <= 1) false
    else if (isVowel(charAt(v, index - 2))) false
    else if (!contains(v, index - 1, 3, "ACH")) false
    else {
      val c = charAt(v, index + 2)
      (c != 'I' && c != 'E') ||
        contains(v, index - 2, 6, "BACHER", "MACHER")
    }
  }

  private def handleC(v: String, r: Result, index0: Int): Int = {
    var index = index0
    if (conditionC0(v, index)) {
      r.append('K'); index += 2
    } else if (index == 0 && contains(v, index, 6, "CAESAR")) {
      r.append('S'); index += 2
    } else if (contains(v, index, 2, "CH")) {
      index = handleCH(v, r, index)
    } else if (contains(v, index, 2, "CZ") &&
        !contains(v, index - 2, 4, "WICZ")) {
      r.append('S', 'X'); index += 2
    } else if (contains(v, index + 1, 3, "CIA")) {
      r.append('X'); index += 3
    } else if (contains(v, index, 2, "CC") &&
        !(index == 1 && charAt(v, 0) == 'M')) {
      index = handleCC(v, r, index)
    } else if (contains(v, index, 2, "CK", "CG", "CQ")) {
      r.append('K'); index += 2
    } else if (contains(v, index, 2, "CI", "CE", "CY")) {
      if (contains(v, index, 3, "CIO", "CIE", "CIA")) r.append('S', 'X')
      else r.append('S')
      index += 2
    } else {
      r.append('K')
      if (contains(v, index + 1, 2, " C", " Q", " G")) index += 3
      else if (contains(v, index + 1, 1, "C", "K", "Q") &&
          !contains(v, index + 1, 2, "CE", "CI")) index += 2
      else index += 1
    }
    index
  }

  private def handleCC(v: String, r: Result, index0: Int): Int = {
    var index = index0
    if (contains(v, index + 2, 1, "I", "E", "H") &&
        !contains(v, index + 2, 2, "HU")) {
      if ((index == 1 && charAt(v, index - 1) == 'A') ||
          contains(v, index - 1, 5, "UCCEE", "UCCES")) r.append("KS")
      else r.append('X')
      index += 3
    } else {
      r.append('K'); index += 2
    }
    index
  }

  private def conditionCH0(v: String, index: Int): Boolean = {
    if (index != 0) false
    else if (!contains(v, index + 1, 5, "HARAC", "HARIS") &&
        !contains(v, index + 1, 3, "HOR", "HYM", "HIA", "HEM")) false
    else !contains(v, 0, 5, "CHORE")
  }

  private def conditionCH1(v: String, index: Int): Boolean =
    contains(v, 0, 4, "VAN ", "VON ") || contains(v, 0, 3, "SCH") ||
      contains(v, index - 2, 6, "ORCHES", "ARCHIT", "ORCHID") ||
      contains(v, index + 2, 1, "T", "S") ||
      ((contains(v, index - 1, 1, "A", "O", "U", "E") || index == 0) &&
        (containsA(v, index + 2, 1, LRNMBHFVW) ||
          index + 1 == v.length - 1))

  private def handleCH(v: String, r: Result, index: Int): Int =
    if (index > 0 && contains(v, index, 4, "CHAE")) {
      r.append('K', 'X'); index + 2
    } else if (conditionCH0(v, index)) {
      r.append('X'); index + 2
    } else if (conditionCH1(v, index)) {
      r.append('K'); index + 2
    } else {
      if (index > 0) {
        if (contains(v, 0, 2, "MC")) r.append('K') else r.append('X', 'K')
      } else r.append('X')
      index + 2
    }

  private def handleD(v: String, r: Result, index0: Int): Int = {
    var index = index0
    if (contains(v, index, 2, "DG")) {
      if (contains(v, index + 2, 1, "I", "E", "Y")) {
        r.append('J'); index += 3
      } else {
        r.append("TK"); index += 2
      }
    } else if (contains(v, index, 2, "DT", "DD")) {
      r.append('T'); index += 2
    } else {
      r.append('T'); index += 1
    }
    index
  }

  private def handleG(v: String, r: Result, index0: Int,
      slavoGermanic: Boolean): Int = {
    var index = index0
    if (charAt(v, index + 1) == 'H') {
      index = handleGH(v, r, index)
    } else if (charAt(v, index + 1) == 'N') {
      if (index == 1 && isVowel(charAt(v, 0)) && !slavoGermanic)
        r.append("KN", "N")
      else if (!contains(v, index + 2, 2, "EY") &&
          charAt(v, index + 1) != 'Y' && !slavoGermanic)
        r.append("N", "KN")
      else r.append("KN")
      index += 2
    } else if (contains(v, index + 1, 2, "LI") && !slavoGermanic) {
      r.append("KL", "L"); index += 2
    } else if (index == 0 && (charAt(v, index + 1) == 'Y' ||
        containsA(v, index + 1, 2, EsEpEbElEyIbIlInIeEiEr))) {
      r.append('K', 'J'); index += 2
    } else if ((contains(v, index + 1, 2, "ER") ||
        charAt(v, index + 1) == 'Y') &&
        !contains(v, 0, 6, "DANGER", "RANGER", "MANGER") &&
        !contains(v, index - 1, 1, "E", "I") &&
        !contains(v, index - 1, 3, "RGY", "OGY")) {
      r.append('K', 'J'); index += 2
    } else if (contains(v, index + 1, 1, "E", "I", "Y") ||
        contains(v, index - 1, 4, "AGGI", "OGGI")) {
      if (contains(v, 0, 4, "VAN ", "VON ") || contains(v, 0, 3, "SCH") ||
          contains(v, index + 1, 2, "ET")) r.append('K')
      else if (contains(v, index + 1, 3, "IER")) r.append('J')
      else r.append('J', 'K')
      index += 2
    } else if (charAt(v, index + 1) == 'G') {
      r.append('K'); index += 2
    } else {
      r.append('K'); index += 1
    }
    index
  }

  private def handleGH(v: String, r: Result, index0: Int): Int = {
    var index = index0
    if (index > 0 && !isVowel(charAt(v, index - 1))) {
      r.append('K'); index += 2
    } else if (index == 0) {
      if (charAt(v, index + 2) == 'I') r.append('J') else r.append('K')
      index += 2
    } else if ((index > 1 && contains(v, index - 2, 1, "B", "H", "D")) ||
        (index > 2 && contains(v, index - 3, 1, "B", "H", "D")) ||
        (index > 3 && contains(v, index - 4, 1, "B", "H"))) {
      index += 2
    } else {
      if (index > 2 && charAt(v, index - 1) == 'U' &&
          contains(v, index - 3, 1, "C", "G", "L", "R", "T")) r.append('F')
      else if (index > 0 && charAt(v, index - 1) != 'I') r.append('K')
      index += 2
    }
    index
  }

  private def handleH(v: String, r: Result, index0: Int): Int = {
    var index = index0
    if ((index == 0 || isVowel(charAt(v, index - 1))) &&
        isVowel(charAt(v, index + 1))) {
      r.append('H'); index += 2
    } else index += 1
    index
  }

  private def handleJ(v: String, r: Result, index0: Int,
      slavoGermanic: Boolean): Int = {
    var index = index0
    if (contains(v, index, 4, "JOSE") || contains(v, 0, 4, "SAN ")) {
      if (index == 0 && (charAt(v, index + 4) == ' ' || v.length == 4) ||
          contains(v, 0, 4, "SAN ")) r.append('H')
      else r.append('J', 'H')
      index += 1
    } else {
      if (index == 0 && !contains(v, index, 4, "JOSE")) r.append('J', 'A')
      else if (isVowel(charAt(v, index - 1)) && !slavoGermanic &&
          (charAt(v, index + 1) == 'A' || charAt(v, index + 1) == 'O'))
        r.append('J', 'H')
      else if (index == v.length - 1) r.append('J', ' ')
      else if (!containsA(v, index + 1, 1, LTKSNMBZ) &&
          !contains(v, index - 1, 1, "S", "K", "L")) r.append('J')
      if (charAt(v, index + 1) == 'J') index += 2 else index += 1
    }
    index
  }

  private def conditionL0(v: String, index: Int): Boolean =
    if (index == v.length - 3 &&
        contains(v, index - 1, 4, "ILLO", "ILLA", "ALLE")) true
    else if ((contains(v, v.length - 2, 2, "AS", "OS") ||
        contains(v, v.length - 1, 1, "A", "O")) &&
        contains(v, index - 1, 4, "ALLE")) true
    else false

  private def handleL(v: String, r: Result, index0: Int): Int = {
    var index = index0
    if (charAt(v, index + 1) == 'L') {
      if (conditionL0(v, index)) r.appendP('L') else r.append('L')
      index += 2
    } else {
      r.append('L'); index += 1
    }
    index
  }

  private def conditionM0(v: String, index: Int): Boolean =
    charAt(v, index + 1) == 'M' ||
      (contains(v, index - 1, 3, "UMB") &&
        (index + 1 == v.length - 1 || contains(v, index + 2, 2, "ER")))

  private def handleP(v: String, r: Result, index0: Int): Int = {
    var index = index0
    if (charAt(v, index + 1) == 'H') {
      r.append('F'); index += 2
    } else {
      r.append('P')
      index += (if (contains(v, index + 1, 1, "P", "B")) 2 else 1)
    }
    index
  }

  private def handleR(v: String, r: Result, index: Int,
      slavoGermanic: Boolean): Int = {
    if (index == v.length - 1 && !slavoGermanic &&
        contains(v, index - 2, 2, "IE") &&
        !contains(v, index - 4, 2, "ME", "MA")) r.appendA('R')
    else r.append('R')
    index + (if (charAt(v, index + 1) == 'R') 2 else 1)
  }

  private def handleS(v: String, r: Result, index0: Int,
      slavoGermanic: Boolean): Int = {
    var index = index0
    if (contains(v, index - 1, 3, "ISL", "YSL")) {
      index += 1
    } else if (index == 0 && contains(v, index, 5, "SUGAR")) {
      r.append('X', 'S'); index += 1
    } else if (contains(v, index, 2, "SH")) {
      if (contains(v, index + 1, 4, "HEIM", "HOEK", "HOLM", "HOLZ"))
        r.append('S')
      else r.append('X')
      index += 2
    } else if (contains(v, index, 3, "SIO", "SIA") ||
        contains(v, index, 4, "SIAN")) {
      if (slavoGermanic) r.append('S') else r.append('S', 'X')
      index += 3
    } else if ((index == 0 &&
        contains(v, index + 1, 1, "M", "N", "L", "W")) ||
        contains(v, index + 1, 1, "Z")) {
      r.append('S', 'X')
      index += (if (contains(v, index + 1, 1, "Z")) 2 else 1)
    } else if (contains(v, index, 2, "SC")) {
      index = handleSC(v, r, index)
    } else {
      if (index == v.length - 1 && contains(v, index - 2, 2, "AI", "OI"))
        r.appendA('S')
      else r.append('S')
      index += (if (contains(v, index + 1, 1, "S", "Z")) 2 else 1)
    }
    index
  }

  private def handleSC(v: String, r: Result, index: Int): Int = {
    if (charAt(v, index + 2) == 'H') {
      if (contains(v, index + 3, 2, "OO", "ER", "EN", "UY", "ED", "EM")) {
        if (contains(v, index + 3, 2, "ER", "EN")) r.append("X", "SK")
        else r.append("SK")
      } else {
        if (index == 0 && !isVowel(charAt(v, 3)) && charAt(v, 3) != 'W')
          r.append('X', 'S')
        else r.append('X')
      }
    } else if (contains(v, index + 2, 1, "I", "E", "Y")) r.append('S')
    else r.append("SK")
    index + 3
  }

  private def handleT(v: String, r: Result, index0: Int): Int = {
    var index = index0
    if (contains(v, index, 4, "TION")) {
      r.append('X'); index += 3
    } else if (contains(v, index, 3, "TIA", "TCH")) {
      r.append('X'); index += 3
    } else if (contains(v, index, 2, "TH") || contains(v, index, 3, "TTH")) {
      if (contains(v, index + 2, 2, "OM", "AM") ||
          contains(v, 0, 4, "VAN ", "VON ") || contains(v, 0, 3, "SCH"))
        r.append('T')
      else r.append('0', 'T')
      index += 2
    } else {
      r.append('T')
      index += (if (contains(v, index + 1, 1, "T", "D")) 2 else 1)
    }
    index
  }

  private def handleW(v: String, r: Result, index0: Int): Int = {
    var index = index0
    if (contains(v, index, 2, "WR")) {
      r.append('R'); index += 2
    } else if (index == 0 && (isVowel(charAt(v, index + 1)) ||
        contains(v, index, 2, "WH"))) {
      if (isVowel(charAt(v, index + 1))) r.append('A', 'F')
      else r.append('A')
      index += 1
    } else if ((index == v.length - 1 && isVowel(charAt(v, index - 1))) ||
        contains(v, index - 1, 5, "EWSKI", "EWSKY", "OWSKI", "OWSKY") ||
        contains(v, 0, 3, "SCH")) {
      r.appendA('F'); index += 1
    } else if (contains(v, index, 4, "WICZ", "WITZ")) {
      r.append("TS", "FX"); index += 4
    } else index += 1
    index
  }

  private def handleX(v: String, r: Result, index0: Int): Int = {
    var index = index0
    if (index == 0) {
      r.append('S'); index += 1
    } else {
      if (!(index == v.length - 1 &&
          (contains(v, index - 3, 3, "IAU", "EAU") ||
            contains(v, index - 2, 2, "AU", "OU")))) r.append("KS")
      index += (if (contains(v, index + 1, 1, "C", "X")) 2 else 1)
    }
    index
  }

  private def handleZ(v: String, r: Result, index0: Int,
      slavoGermanic: Boolean): Int = {
    var index = index0
    if (charAt(v, index + 1) == 'H') {
      r.append('J'); index += 2
    } else {
      if (contains(v, index + 1, 2, "ZO", "ZI", "ZA") ||
          (slavoGermanic && index > 0 && charAt(v, index - 1) != 'T'))
        r.append("S", "TS")
      else r.append('S')
      index += (if (charAt(v, index + 1) == 'Z') 2 else 1)
    }
    index
  }
}

/** `double_metaphone(s, alternate)`: the primary (alternate = false) or
  * alternate (true) Double Metaphone code of a string. */
case class DoubleMetaphoneExpr(child: Expression, alternate: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"double_metaphone needs string, got ${child.dataType}")
  override def nullSafeEval(s: Any): Any = {
    val out =
      if (alternate) DoubleMetaphoneImpl.alternate(s.asInstanceOf[UTF8String].toString)
      else DoubleMetaphoneImpl.primary(s.asInstanceOf[UTF8String].toString)
    if (out == null) null else UTF8String.fromString(out)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (alternate) "alternate" else "primary"
    // freshName, not a fixed local: two instances of the same variant in
    // one codegen stage (e.g. double_metaphone of two columns in one
    // projection) must not declare duplicate Java variables.
    val out = ctx.freshName("dmOut")
    nullSafeCodeGen(ctx, ev, s => s"""
      |String $out = graft.plans.DoubleMetaphoneImpl.$fn($s.toString());
      |if ($out == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($out); }
      |""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): DoubleMetaphoneExpr =
    copy(child = c)
}
