package graft.testing

import graft.core.DcaFrame
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The test suite's frame assertions — the Spark analog of the reference's
  * test utilities (`testing.py:38-85`: `assert_trees`,
  * `assert_allclose`, `assert_array_equal`).
  *
  * `assert_array_equal` checks type, `.shape`, tree-wise allclose
  * values, and backend identity; the DcaFrame translation is:
  *
  *   - SCHEMA: the array columns' names and dtypes must match
  *     recursively (nullability ignored) — the analog of
  *     `assert_same_structure` over the dataclass tree. Index columns
  *     are frame plumbing and excluded.
  *   - SHAPE: `x.shape == y.shape` (`testing.py:81`).
  *   - STATICS: the non-array static fields carried on the frame
  *     (`array_dataclass.py:192-198` analogs) compare with `==`.
  *   - VALUES: ordered row-major collect on both sides, then a TREE
  *     comparison per cell — floats via `|a-b| <= atol + rtol*|b|`
  *     (numpy `assert_allclose`; NaNs equal, infinities by sign),
  *     integers/strings/booleans/binary exactly, recursing through
  *     nested structs, arrays, and maps.
  *
  * Backend identity (`testing.py:84-85`) has no analog: there is one
  * distributed backend. Failures raise [[FrameMismatch]] with the
  * first diverging path, so ScalaTest reports are actionable.
  *
  * Scale note: both frames are collected to the driver — this is a
  * TEST utility for fixture-sized frames, mirroring the reference's
  * numpy-side asserts; production equality checks belong in a query
  * (e.g. q110's distributed table checksum).
  */
object FrameAssertions {

  /** numpy assert_allclose default: rtol 1e-7, atol 0. */
  val DefaultRtol: Double = 1e-7

  final class FrameMismatch(msg: String) extends AssertionError(msg)

  private def fail(msg: String): Nothing = throw new FrameMismatch(msg)

  /** Assert two frames are equal: schema + shape + statics + allclose
    * values (reference `assert_array_equal`, testing.py:62-85).
    */
  def assertFrameEqual(x: DcaFrame, y: DcaFrame,
                       atol: Double = 0.0, rtol: Double = DefaultRtol): Unit = {
    if (x.shape != y.shape)
      fail(s"shape mismatch: ${x.shape} vs ${y.shape}")
    if (x.arrayCols != y.arrayCols)
      fail(s"field mismatch: ${x.arrayCols} vs ${y.arrayCols}")
    val xt = projectedType(x)
    val yt = projectedType(y)
    if (xt != yt)
      fail(s"schema mismatch:\n  left:  ${xt.catalogString}\n  right: ${yt.catalogString}")
    if (x.statics != y.statics)
      fail(s"statics mismatch: ${x.statics} vs ${y.statics}")
    val xr = x.collectOrdered()
    val yr = y.collectOrdered()
    if (xr.length != yr.length) // guarded by shape already; belt-and-braces
      fail(s"row count mismatch: ${xr.length} vs ${yr.length}")
    var i = 0
    while (i < xr.length) {
      assertAllClose(xr(i), yr(i), atol, rtol, s"element[$i]")
      i += 1
    }
  }

  /** Tree-wise allclose over any pair of collected Spark values
    * (reference `assert_allclose` + `assert_trees`, testing.py:38-59):
    * structure must match exactly; float leaves compare with
    * `|a-b| <= atol + rtol*|b|` (NaNs equal, infinities by sign);
    * everything else compares exactly.
    */
  def assertAllClose(x: Any, y: Any, atol: Double = 0.0,
                     rtol: Double = DefaultRtol, path: String = "$"): Unit =
    (x, y) match {
      case (null, null) => ()
      case (null, _) | (_, null) =>
        fail(s"$path: null vs non-null ($x vs $y)")
      case (a: Row, b: Row) =>
        if (a.length != b.length)
          fail(s"$path: struct arity ${a.length} vs ${b.length}")
        var i = 0
        while (i < a.length) {
          val field =
            if (a.schema != null && i < a.schema.length) a.schema(i).name else i.toString
          assertAllClose(a.get(i), b.get(i), atol, rtol, s"$path.$field")
          i += 1
        }
      case (a: scala.collection.Seq[_], b: scala.collection.Seq[_]) =>
        if (a.length != b.length)
          fail(s"$path: array length ${a.length} vs ${b.length}")
        var i = 0
        while (i < a.length) {
          assertAllClose(a(i), b(i), atol, rtol, s"$path[$i]")
          i += 1
        }
      case (a: scala.collection.Map[_, _], b: scala.collection.Map[_, _]) =>
        if (a.keySet != b.keySet)
          fail(s"$path: map keys ${a.keySet} vs ${b.keySet}")
        a.foreach { case (k, va) =>
          assertAllClose(va, b.asInstanceOf[scala.collection.Map[Any, Any]](k),
            atol, rtol, s"$path[$k]")
        }
      case (a: Array[Byte], b: Array[Byte]) =>
        if (!java.util.Arrays.equals(a, b))
          fail(s"$path: binary values differ")
      case (a: Double, b: Double) => assertClose(a, b, atol, rtol, path)
      case (a: Float, b: Float) =>
        assertClose(a.toDouble, b.toDouble, atol, rtol, path)
      case (a: java.math.BigDecimal, b: java.math.BigDecimal) =>
        if (a.compareTo(b) != 0) fail(s"$path: $a != $b")
      case (a, b) =>
        if (a != b) fail(s"$path: $a != $b")
    }

  private def assertClose(a: Double, b: Double, atol: Double, rtol: Double,
                          path: String): Unit = {
    val ok =
      if (a.isNaN || b.isNaN) a.isNaN && b.isNaN
      else if (a.isInfinite || b.isInfinite) a == b
      else math.abs(a - b) <= atol + rtol * math.abs(b)
    if (!ok) fail(f"$path: $a%.17g not close to $b%.17g (atol=$atol, rtol=$rtol)")
  }

  /** The frame's VALUE schema — array columns only, in declaration
    * order, nullability normalized away (Spark infers it differently
    * across construction paths; the reference has no analog of it).
    */
  private def projectedType(f: DcaFrame): StructType = {
    val full = f.df.schema
    StructType(f.arrayCols.map(n => full(n)).map(sf =>
      StructField(sf.name, normalize(sf.dataType))))
  }

  private def normalize(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(sf => StructField(sf.name, normalize(sf.dataType))))
    case a: ArrayType => ArrayType(normalize(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(normalize(m.keyType), normalize(m.valueType), valueContainsNull = true)
    case other => other
  }
}
