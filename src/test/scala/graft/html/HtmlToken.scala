package graft.html

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** HTML token stream. Text payloads are raw (entities NOT yet decoded);
  * offsets are byte offsets into the input. */
sealed trait HtmlToken
object HtmlToken {
  /** `attrs` preserves source order; names lowercased. */
  final case class Start(name: String, attrs: List[(String, String)],
                         selfClosing: Boolean, offset: Int) extends HtmlToken
  final case class End(name: String, offset: Int) extends HtmlToken
  final case class Text(raw: String, offset: Int) extends HtmlToken
  final case class Comment(offset: Int) extends HtmlToken
  final case class Doctype(offset: Int) extends HtmlToken

  /** [[Tokenizer.tokenizeTo]]'s events as a token vector, for specs that
    * want tokens as values. */
  def tokenize(bytes: Array[Byte]): Vector[HtmlToken] = {
    val out = ArrayBuffer.empty[HtmlToken]
    Tokenizer.tokenizeTo(bytes, new TokenSink {
      def start(name: String, attrs: List[(String, String)], selfClosing: Boolean, offset: Int): Unit =
        out += Start(name, attrs, selfClosing, offset)
      def end(name: String, offset: Int): Unit = out += End(name, offset)
      def text(from: Int, until: Int): Unit =
        out += Text(new String(bytes, from, until - from, UTF_8), from)
      override def comment(offset: Int): Unit = out += Comment(offset)
      override def doctype(offset: Int): Unit = out += Doctype(offset)
    })
    out.toVector
  }
}
