package graft.parse

import scala.collection.mutable

/** Table-driven finite-state document parser.
  *
  * Re-expresses the reference engine's semantics
  * (/root/reference/ferenda/fsmparser.py:84-239): a peekable chunk reader,
  * a state stack, ordered recognizers, and a transition table
  * (state, recognizer) → (constructor | ∅, newState | ∅). Constructors pull
  * chunks from the reader and may recurse via [[FsmParser#makeChildren]];
  * a constructor marked `pushesState` gets its own stack frame
  * (the reference's `@newstate` decorator, decorators.py:371-377).
  *
  * Generic in the chunk type `C`: text parsers (RFC, markdown, DV) feed
  * plain strings, the offtryck PDF structure parser feeds
  * Page/Textbox tokens — matching the reference, whose FSMParser is
  * likewise chunk-type-agnostic (fsmparser.py feeds both text paragraphs
  * and pdfreader Textbox/Page objects).
  *
  * Pure JVM-side logic: one instance per document inside a Dataset map
  * stage — no Spark types, no shared state, embarrassingly parallel.
  */
object FsmParser {

  final class Peekable[C](it: Iterator[C]) {
    private val cache = mutable.Queue.empty[C]
    /** 1-based peek; None past end of input. */
    def peekOpt(n: Int = 1): Option[C] = {
      while (cache.size < n && it.hasNext) cache.enqueue(it.next())
      if (cache.size >= n) Some(cache(n - 1)) else None
    }
    def peek(n: Int = 1): C =
      peekOpt(n).getOrElse(throw new NoSuchElementException("peek past end"))
    def next(): C =
      if (cache.nonEmpty) cache.dequeue()
      else if (it.hasNext) it.next()
      else throw new NoSuchElementException("read past end")
    def hasNext: Boolean = cache.nonEmpty || it.hasNext
  }

  /** Ordered predicate over the upcoming chunk(s). */
  final case class Recognizer[C](name: String, matches: FsmParser[C] => Boolean)

  /** Node factory. `pushesState` ⇔ the reference's @newstate decorator:
    * the transition's newState becomes a pushed frame instead of replacing
    * the top of the stack. Returning None emits nothing (skip). */
  final case class Constructor[C](
      name: String,
      pushesState: Boolean,
      build: FsmParser[C] => Option[TreeNode])

  /** constructor=None ⇔ the reference's `False` constructor: return to the
    * parent frame, optionally rewriting the state we return to. */
  final case class Transition[C](
      constructor: Option[Constructor[C]],
      newState: Option[String])

  final case class Config[C](
      recognizers: Vector[Recognizer[C]],
      transitions: Map[(String, String), Transition[C]],
      initialState: String,
      initialConstructor: Constructor[C],
      /** Callable transitions (the reference allows a transition VALUE to
        * be a function of (symbol, state_stack) — fsmparser.py:154-168,
        * used for context-dependent choices like "sublist or return to
        * parent list"). Looked up before `transitions`. */
      dynamicTransitions: Map[(String, String), FsmParser[C] => Transition[C]] =
        Map.empty[(String, String), FsmParser[C] => Transition[C]])
}

final class FsmParser[C](cfg: FsmParser.Config[C], chunks: Iterator[C]) {
  import FsmParser._

  val reader = new Peekable[C](chunks)
  private val stateStack = mutable.Stack[String](cfg.initialState)
  // per-state applicable-recognizer list, computed once per state instead
  // of re-filtering the recognizer vector for every chunk
  private val applicableCache = mutable.HashMap.empty[String, Vector[Recognizer[C]]]

  /** Current state stack, innermost first (for dynamic transitions). */
  def states: Seq[String] = stateStack.toSeq

  def parse(): TreeNode =
    cfg.initialConstructor.build(this)
      .getOrElse(throw new IllegalStateException("root constructor returned nothing"))

  private def analyzeSymbol(): Option[Recognizer[C]] = {
    if (reader.peekOpt().isEmpty) return None
    val state = stateStack.top
    val applicable = applicableCache.getOrElseUpdate(state,
      cfg.recognizers.filter(r =>
        cfg.transitions.contains((state, r.name)) ||
          cfg.dynamicTransitions.contains((state, r.name))))
    applicable.find(_.matches(this)) match {
      case some @ Some(_) => some
      case None =>
        throw new IllegalStateException(
          s"No recognizer match in state '$state' for chunk " +
          s"'${reader.peek().toString.take(60)}' (tried ${applicable.map(_.name).mkString(", ")})")
    }
  }

  private def makeChild(c: Constructor[C], childState: Option[String]): Option[TreeNode] = {
    stateStack.push(childState.getOrElse(stateStack.top))
    try c.build(this) finally stateStack.pop()
  }

  /** Direct child construction in an explicit state frame — the reference's
    * `parser.make_child(ctor, state)` used inside constructors
    * (rfc.py:322-327). */
  def makeChildrenFrame(c: Constructor[C], state: String): Option[TreeNode] =
    makeChild(c, Some(state))

  /** The engine loop: builds children for `parent` until a recognizer ends
    * the frame (fsmparser.py:181-239). */
  def makeChildren(parent: TreeNode): TreeNode = {
    var acc = parent
    while (true) {
      val symbol = analyzeSymbol() match {
        case None => return acc // input exhausted
        case Some(r) => r
      }
      val key = (stateStack.top, symbol.name)
      val tr = cfg.dynamicTransitions.get(key)
        .map(_(this)).getOrElse(cfg.transitions(key))
      // a transition with a state but a plain (non-pushing) constructor
      // rewrites the top of the stack in place
      tr.newState.foreach { ns =>
        if (!tr.constructor.exists(_.pushesState)) stateStack(0) = ns
      }
      tr.constructor match {
        case Some(c) =>
          val element =
            try makeChild(c, tr.newState)
            catch { case _: NoSuchElementException => return acc }
          element.foreach(e => acc = acc.appendChild(e))
        case None =>
          // return to parent; optionally rewrite the state we return to
          // (the reference's state_stack[-2] hack, fsmparser.py:228-238)
          tr.newState.foreach { ns =>
            if (stateStack.size >= 2) stateStack(1) = ns
          }
          return acc
      }
    }
    acc
  }
}
