package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd md5-family MinHash signature over an `array<string>`
  * shingle column: q30's k-slot signature, registered as SQL function
  * `minhash_md5(shingles, k)`.
  *
  * Slot i = the minimum, over the non-NULL shingles s, of lowercase-hex
  * md5 over the UTF-8 bytes of `CAST(i AS STRING) || '|' || s` — exactly
  * the higher-order-function chain
  * `transform(sequence(0, k - 1), i -> array_min(transform(shingles,
  * s -> md5(concat(CAST(i AS STRING), '|', s)))))`, which dispatched k
  * interpreted lambdas per shingle and built k hex strings per shingle.
  * Here: one MessageDigest per thread, raw digests compared unsigned
  * byte by byte (the same order as their lowercase hex strings), and
  * only the k winning digests hex-encoded.
  *
  * NULLs follow the SQL form: an empty or all-NULL array gives NULL
  * slots, and a NULL array gives k NULLs, never a NULL array (`transform`
  * over NULL is NULL, `array_min` of NULL is NULL). TextVectorSpec pins
  * equality with the SQL form on both the codegen and the interpreted
  * path; the DuckDB oracle replays the slots in q30.
  */
case class MinHashMd5(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1 && k <= 64, s"minhash_md5: k must be in [1, 64], got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_md5 expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  @transient private lazy val mdLocal =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  @transient private lazy val slotPrefixes = MinHashMd5.prefixes(k)

  override def eval(input: InternalRow): Any = {
    val slots = new Array[Any](k)
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val md = mdLocal.get()
      val best = new Array[Byte](16 * k)
      val dg = new Array[Byte](16)
      var any = false
      var i = 0
      while (i < arr.numElements()) {
        if (!arr.isNullAt(i)) {
          val s = arr.getUTF8String(i).getBytes
          var j = 0
          while (j < k) {
            md.update(slotPrefixes(j))
            md.update(s)
            md.digest(dg, 0, 16)
            if (!any || java.util.Arrays.compareUnsigned(
                dg, 0, 16, best, 16 * j, 16 * j + 16) < 0)
              System.arraycopy(dg, 0, best, 16 * j, 16)
            j += 1
          }
          any = true
        }
        i += 1
      }
      if (any) {
        var j = 0
        while (j < k) { slots(j) = MinHashMd5.hex(best, 16 * j); j += 1 }
      }
    }
    new GenericArrayData(slots)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState("java.security.MessageDigest", "graftMd5",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
               |catch (java.security.NoSuchAlgorithmException e) {
               |  throw new RuntimeException(e);
               |}""".stripMargin)
    val pre = ctx.addMutableState("byte[][]", "graftSlotPrefixes",
      v => s"$v = graft.functions.MinHashMd5.prefixes($k);")
    val c = child.genCode(ctx)
    val slots = ctx.freshName("slots")
    val best = ctx.freshName("best")
    val dg = ctx.freshName("dg")
    val any = ctx.freshName("any")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val s = ctx.freshName("s")
    ev.copy(code = code"""
      |${c.code}
      |Object[] $slots = new Object[$k];
      |if (!${c.isNull}) {
      |  byte[] $best = new byte[${16 * k}];
      |  byte[] $dg = new byte[16];
      |  boolean $any = false;
      |  for (int $i = 0; $i < ${c.value}.numElements(); $i++) {
      |    if (!${c.value}.isNullAt($i)) {
      |      byte[] $s = ${c.value}.getUTF8String($i).getBytes();
      |      for (int $j = 0; $j < $k; $j++) {
      |        $md.update($pre[$j]);
      |        $md.update($s);
      |        try { $md.digest($dg, 0, 16); }
      |        catch (java.security.DigestException e) {
      |          throw new RuntimeException(e);
      |        }
      |        if (!$any || java.util.Arrays.compareUnsigned(
      |            $dg, 0, 16, $best, 16 * $j, 16 * $j + 16) < 0) {
      |          System.arraycopy($dg, 0, $best, 16 * $j, 16);
      |        }
      |      }
      |      $any = true;
      |    }
      |  }
      |  if ($any) {
      |    for (int $j = 0; $j < $k; $j++) {
      |      $slots[$j] = graft.functions.MinHashMd5.hex($best, 16 * $j);
      |    }
      |  }
      |}
      |ArrayData ${ev.value} =
      |  new org.apache.spark.sql.catalyst.util.GenericArrayData($slots);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashMd5 {
  /** The UTF-8 bytes of `CAST(i AS STRING) || '|'` for each slot i. */
  def prefixes(k: Int): Array[Array[Byte]] =
    Array.tabulate(k)(i => s"$i|".getBytes("UTF-8"))

  /** Lowercase hex of the 16-byte digest at `d(off)` — Spark's `md5()`
    * rendering. */
  def hex(d: Array[Byte], off: Int): UTF8String = {
    val out = new Array[Byte](32)
    var p = 0
    while (p < 16) {
      out(2 * p) = SimHashMd5.hexDigit((d(off + p) >> 4) & 0xF)
      out(2 * p + 1) = SimHashMd5.hexDigit(d(off + p) & 0xF)
      p += 1
    }
    UTF8String.fromBytes(out)
  }
}
