package graft

import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, MapType, StructType}

/** The r15 q177 gate lesson as a repo-wide contract: decimal
  * accumulation is welcome INTERNALLY (a DECIMAL(38,0) cent sum can't
  * wrap at 100 TB row counts where int64 silently would), but no
  * catalog query may SHIP a decimal column — decimal outputs
  * canonicalize differently across downstream hash layers (pandas
  * renders them float64, DuckDB keeps HUGEINT-backed exactness), so a
  * cell-exact result can still fail a hash gate. Output schemas carry
  * integers, doubles, strings, booleans, timestamps, or
  * arrays/structs thereof; exact fixed-point values ride gridded
  * integers (the ×2-cents / 1e4-grid conventions), and wide internal
  * decimals exit through an overflow-checked BIGINT downcast
  * (Relational.decimalToLongChecked).
  *
  * The SimHashWidthSpec pattern: a defect class, once root-caused,
  * becomes a sweep-the-catalog gate rather than a code-review memory.
  * This spec invokes every builder and reads only the schema — the spec
  * itself takes no result action, but builders whose BODIES run jobs
  * (q29's PageRank loop, q191/q200's head pulls, q194's collect, q203's
  * snapshot writes) do that work at build time, so the sweep is a
  * catalog-wide RESOLUTION check too — a query whose plan no longer
  * analyzes (or whose build-time actions break) fails here before the
  * driver gate sees it. Build-time snapshot dirs are shutdown-hook
  * cleaned (Relational.scratchDir).
  */
class NoDecimalOutputSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def hasDecimal(dt: DataType): Boolean = dt match {
    case _: DecimalType => true
    case s: StructType  => s.fields.exists(f => hasDecimal(f.dataType))
    case a: ArrayType   => hasDecimal(a.elementType)
    case m: MapType     => hasDecimal(m.keyType) || hasDecimal(m.valueType)
    case _              => false
  }

  test("no catalog query ships a DecimalType column") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) =>
        val bad = build(spark, dir).schema.fields
          .filter(f => hasDecimal(f.dataType))
        if (bad.isEmpty) None
        else Some(s"$name: ${bad.map(_.name).mkString(", ")}")
    }
    assert(offenders.isEmpty,
      s"decimal columns in output schemas:\n${offenders.mkString("\n")}")
  }
}
