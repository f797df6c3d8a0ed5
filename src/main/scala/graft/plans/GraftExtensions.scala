package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions as SQL
  * functions, so `spark.sql("... vec_cosine(a, b) ...")` works next to
  * the Column API. Enabled by setting `spark.sql.extensions` to
  * `graft.plans.GraftExtensions`, as [[graft.LocalSession]] does.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def binary(name: String, clazz: Class[_], make: (Expression, Expression) => Expression) =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(clazz.getCanonicalName, name),
        (children: Seq[Expression]) => {
          require(children.length == 2, s"$name takes exactly 2 arguments")
          make(children(0), children(1))
        }))
    binary("vec_dot", classOf[DotProduct], DotProduct.apply)
    binary("vec_cosine", classOf[CosineSimilarity], CosineSimilarity.apply)
    // md5_word(s, i): i-th 32-bit word of md5(s) as a non-negative long
    ext.injectFunction((
      FunctionIdentifier("md5_word"),
      new ExpressionInfo(classOf[Md5Word].getCanonicalName, "md5_word"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "md5_word takes exactly 2 arguments")
        val word = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"md5_word: word index must be an integer literal, got $other")
        }
        Md5Word(children(0), word)
      }))
  }
}
