package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

package object functions {

  /** A literal SQL argument as an Int, e.g. the 64 of `minhash_sig(t, 64, 5)`. */
  private[functions] def intArg(e: Expression): Int =
    e.asInstanceOf[Literal].value.asInstanceOf[Number].intValue()

  /** A literal SQL argument as a Boolean. */
  private[functions] def boolArg(e: Expression): Boolean =
    e.asInstanceOf[Literal].value.asInstanceOf[Boolean]
}
