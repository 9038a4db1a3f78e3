"""Interactive command shell (the reference's rustyline REPL).

Command surface and behavior mirror ``/root/reference/src/cmds.rs``
(parser table, :251-273) and ``/root/reference/src/main.rs``
(execution, :180-370):

    index <parquet>         build or append documents into the index
    stats base              index overview (main.rs:285 prints queue/
                            block stats; analog: snapshot tables)
    stats debug             dump the dictionary "word: [id] n=count"
                            to the log file (main.rs:339-347)
    stats <word>            per-term stats (the reference prints a
                            storage block by number, main.rs:332-338;
                            the analog of inspecting one term's
                            storage here is its dictionary row +
                            posting-block layout)
    find <match...>         AND search; prints the first 20 hits with
                            their matched lines and stores the result
                            cursor (main.rs:201-219). Matches are
                            globs (``dat*``) or fuzzy (``querry~1`` =
                            Levenshtein ≤ 1 — engine extension)
    files <match>           file-name wildcard search (main.rs:220-232)
    first / next            page the stored result 20 at a time,
                            trailing "..." when more (main.rs:233-276)
    summary <nr>            no-op in the reference (main.rs:277)
    delete <file-match>     delete matching files (main.rs:278-284)
    store                   force a snapshot save (main.rs:349-351 —
                            every op here already commits atomically,
                            so this prints the current version)
    help | ?                usage text (main.rs:354-367)
    quit | exit             leave (rustyline ctrl-d analog)

Tab completion (``jobs/shell.py``) completes command names and, for
``find``/``stats``, index terms via the resident dictionary — the
rustyline Helper analog (``cmdlib.rs``).
"""
from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import SparkSession

PAGE = 20

HELP = """
index <parquet-path>
stats base | debug | <word>
find <match...> [-exclude...] [lang:V|site:HOST|ts:A..B]   globs, fuzzy, scope
bool <expr>            e.g. bool spark AND (vector OR merge) AND NOT qu*
suggest <word>         did-you-mean spelling suggestions
anchor <match...> [scope]  body + incoming-anchor ranked search
similar <doc_id> [scope]   more-like-this: docs similar to a document
files <match>
summary <nr>
delete <file-match>
store
help | ?
quit | exit
"""


class Shell:
    """Dispatch loop state: one index dir + the Found cursor."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        docs_path: str | None = None,
        anchor_dir: str | None = None,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.docs_path = docs_path  # raw documents table for matched lines
        self.anchor_dir = anchor_dir  # anchor-field index for `anchor`
        self.found: list[tuple[str, list[str]]] = []  # (url, lines)
        self.lines_idx = 0

    # ------------------------------------------------------------ commands

    def dispatch(self, line: str) -> str:
        """Execute one command line, return its printed output."""
        buf = io.StringIO()
        with redirect_stdout(buf):
            try:
                self._dispatch(line)
            except SystemExit:
                raise
            except Exception as e:  # REPL: report, keep running
                print(f"error: {e}")
        return buf.getvalue()

    def _dispatch(self, line: str) -> None:
        parts = line.strip().split()
        if not parts:
            return
        cmd, args = parts[0], parts[1:]
        if cmd in ("help", "?"):
            print(HELP.strip())
        elif cmd in ("quit", "exit"):
            raise SystemExit(0)
        elif cmd == "index":
            self._cmd_index(args)
        elif cmd == "find":
            self._cmd_find(args)
        elif cmd == "bool":
            self._cmd_bool(args)
        elif cmd == "files":
            self._cmd_files(args)
        elif cmd == "first":
            self.lines_idx = 0
            self._page()
        elif cmd == "next":
            self._page()
        elif cmd == "stats":
            self._cmd_stats(args)
        elif cmd == "suggest":
            self._cmd_suggest(args)
        elif cmd == "anchor":
            self._cmd_anchor(args)
        elif cmd == "similar":
            self._cmd_similar(args)
        elif cmd == "delete":
            self._cmd_delete(args)
        elif cmd == "summary":
            pass  # no-op in the reference (main.rs:277)
        elif cmd == "store":
            from textindex_spark import manifest

            man = manifest.current_manifest(self.spark, self.index_dir)
            print(f"snapshot v{int(man['version']) if man else 0} (every op commits atomically)")
        else:
            print(f"unknown command: {cmd} (try help)")

    def _cmd_index(self, args: list[str]) -> None:
        if not args:
            print("usage: index <parquet-path>")
            return
        from textindex_spark import manifest
        from textindex_spark.build import append_batch, build_index

        docs = self.spark.read.parquet(args[0])
        if manifest.table_exists(self.spark, self.index_dir, "stats"):
            stats = append_batch(self.spark, docs, self.index_dir)
            print(f"appended; n_docs={stats['n_docs']} vocab={stats['vocab_size']}")
        else:
            stats = build_index(self.spark, docs, self.index_dir)
            print(f"indexed; n_docs={stats['n_docs']} vocab={stats['vocab_size']}")
        self.docs_path = self.docs_path or args[0]

    SCOPE_PREFIXES = ("lang:", "site:", "ts:")

    def _split_scope(self, args: list[str]):
        """Split the optional lang:/site:/ts: token off a command's
        args → (scope | None, rest) — or (False, args) after printing
        the shared error when more than one scope token appears. ONE
        definition so every scoped command accepts the same syntax."""
        scopes = [a for a in args if a.startswith(self.SCOPE_PREFIXES)]
        if len(scopes) > 1:
            print("at most one lang:/site:/ts: scope per query")
            return False, args
        rest = [a for a in args if not a.startswith(self.SCOPE_PREFIXES)]
        return (scopes[0] if scopes else None), rest

    def _cmd_find(self, args: list[str]) -> None:
        # `-pattern` tokens are NOT terms (engine extension): docs
        # matching them are excluded from the AND result.
        # `lang:V` / `site:HOST` / `ts:A..B` tokens are metadata scopes (engine
        # extension): the result keeps only matching docs.
        exclude = [a[1:] for a in args if a.startswith("-") and len(a) > 1]
        scope, args = self._split_scope(args)
        if scope is False:
            return
        args = [a for a in args if not a.startswith("-")]
        if not args:
            print("usage: find <match...> [-exclude ...] [lang:V|site:HOST|ts:A..B]")
            return
        from textindex_spark.query import find_unranked, matched_lines
        from textindex_spark.session import local_df

        # collect once; matched_lines gets the ids as a local frame so
        # the distributed AND query runs exactly one time (review r4)
        hit_rows = find_unranked(
            self.spark, self.index_dir, args, exclude=exclude or None,
            scope=scope,
        ).collect()
        if self.docs_path is not None and hit_rows:
            ids = local_df(
                self.spark, [(r["doc_id"],) for r in hit_rows], "doc_id long"
            )
            docs = self.spark.read.parquet(self.docs_path)
            rows = matched_lines(self.spark, docs, ids, args).collect()
            by_id = {r["doc_id"]: list(r["lines"]) for r in rows}
        else:
            by_id = {}
        self.found = [(r["url"], by_id.get(r["doc_id"], [])) for r in hit_rows]
        self.lines_idx = 0
        self._page()

    def _cmd_bool(self, args: list[str]) -> None:
        # ranked boolean tree (engine extension): AND/OR/NOT + parens,
        # wildcard leaves; prints BM25 top hits (url + score).
        # `lang:V` / `site:HOST` / `ts:A..B` tokens are metadata scopes — left in
        # the expr they would parse as silently-unmatchable leaves.
        scope, args = self._split_scope(args)
        if scope is False:
            return
        if any(
            a.lstrip("(").startswith(("lang:", "site:", "ts:")) for a in args
        ):
            # e.g. "(lang:de" — attached to a paren it would become a
            # silently-unmatchable boolean leaf
            print("place lang:/site:/ts: outside the expression, e.g. "
                  "bool spark AND vector lang:de")
            return
        if not args:
            print("usage: bool <expr> [lang:V|site:HOST|ts:A..B]")
            return
        from textindex_spark.boolquery import search_bool

        rows = search_bool(
            self.spark, self.index_dir, " ".join(args), k=PAGE,
            scope=scope,
        ).collect()
        self.found = [(f"{r['url']}  [{r['score']:.4f}]", []) for r in rows]
        self.lines_idx = 0
        self._page()

    def _cmd_files(self, args: list[str]) -> None:
        if not args:
            print("usage: files <match>")
            return
        from textindex_spark.query import find_files

        rows = find_files(self.spark, self.index_dir, args[0]).collect()
        for idx, r in enumerate(rows):
            print(f"  {idx}:{r['url']}")
        self.found = [(r["url"], []) for r in rows]
        self.lines_idx = len(rows)  # files prints everything (main.rs:220)

    def _page(self) -> None:
        for idx in range(self.lines_idx, min(self.lines_idx + PAGE, len(self.found))):
            url, lines = self.found[idx]
            print(f"  {idx}:{url}")
            for ln in lines:
                print(f"    {ln}")
        self.lines_idx = min(self.lines_idx + PAGE, len(self.found))
        if self.lines_idx < len(self.found):
            print("...")

    def _cmd_stats(self, args: list[str]) -> None:
        from textindex_spark import manifest

        sub = args[0] if args else "base"
        if sub == "base":
            from textindex_spark.build import describe_index

            d = describe_index(self.spark, self.index_dir)
            for t, info in d["tables"].items():
                print(
                    f"  {t}: rows={info['rows']} bytes={info['bytes']} "
                    f"files={info['files']}"
                )
            s = d["stats"]
            print(
                f"  n_docs={s['n_docs']} vocab={s['vocab_size']} "
                f"avgdl={s['avgdl']:.2f} snapshot=v{d['snapshot_version']}"
            )
        elif sub == "debug":
            # dictionary dump to the log file (main.rs:339-347)
            log = f"{self.index_dir}/shell_debug.log"
            terms = (
                manifest.read_table(self.spark, self.index_dir, "terms")
                .orderBy("term")
                .collect()
            )
            with open(log, "w", encoding="utf-8") as f:
                for i, r in enumerate(terms):
                    f.write(f"{r['term']}: [{i}] n={r['cf']}\n")
            print(f"dictionary ({len(terms)} terms) written to {log}")
        else:
            from textindex_spark.query import expand_patterns

            exp = expand_patterns(self.spark, self.index_dir, [sub])
            if len(exp) == 0:
                print(f"  {sub}: not in dictionary")
                return
            postings = manifest.read_table(self.spark, self.index_dir, "postings")
            from pyspark.sql import functions as F

            terms = sorted(exp["term"])
            rows = (
                postings.filter(F.col("term").isin(terms))
                .select("term", "range_id", "n_docs", "sum_tf", "max_tf")
                .orderBy("term", "range_id")
                .collect()
            )
            for t in terms:
                df = int(exp.loc[exp["term"] == t, "df"].iloc[0])
                blocks = [r for r in rows if r["term"] == t]
                print(f"  {t}: df={df} blocks={len(blocks)}")
                for r in blocks[:10]:
                    print(
                        f"    range={r['range_id']} n_docs={r['n_docs']} "
                        f"sum_tf={r['sum_tf']} max_tf={r['max_tf']}"
                    )

    def _cmd_delete(self, args: list[str]) -> None:
        if not args:
            print("usage: delete <file-match>")
            return
        from textindex_spark.query import delete_docs

        n = delete_docs(self.spark, self.index_dir, args[0])
        print(f"deleted {n} docs")

    # ---------------------------------------------------------- completion

    COMMANDS = (
        "index", "stats", "find", "bool", "files", "summary", "delete",
        "store", "suggest", "similar", "anchor", "first", "next", "help",
        "quit", "exit",
    )

    def _cmd_similar(self, args: list[str]) -> None:
        # more-like-this (engine extension): rank docs similar to a
        # doc_id; needs the raw corpus for the source point lookup.
        # An optional lang:/site:/ts: token restricts the candidates.
        scope, args = self._split_scope(args)
        if scope is False:
            return
        if len(args) != 1 or not args[0].lstrip("-").isdigit():
            print("usage: similar <doc_id> [lang:V|site:HOST|ts:A..B]")
            return
        if self.docs_path is None:
            print("similar needs the raw corpus (open the shell with --docs)")
            return
        from textindex_spark.query import more_like_this

        try:
            rows = more_like_this(
                self.spark, self.index_dir,
                self.spark.read.parquet(self.docs_path), int(args[0]),
                with_urls=True, scope=scope,
            ).collect()
        except ValueError as e:
            print(e)
            return
        if not rows:
            print("no similar documents")
            return
        for i, r in enumerate(rows):
            print(f"  {i}:{r['url']} ({r['score']:.4f})")

    def _cmd_anchor(self, args: list[str]) -> None:
        # fielded search (engine extension): body BM25 + incoming-
        # anchor BM25, disjunctive across fields; optional scope token
        if self.anchor_dir is None:
            print("anchor needs the anchor-field index (open the shell "
                  "with --anchor-index; build it with jobs/linkgraph.py "
                  "--anchor-field)")
            return
        scope, args = self._split_scope(args)
        if scope is False:
            return
        if not args:
            print("usage: anchor <match...> [lang:V|site:HOST|ts:A..B]")
            return
        from textindex_spark.fields import search_fielded

        rows = search_fielded(
            self.spark, self.index_dir, self.anchor_dir, args,
            scope=scope,
        ).collect()
        if not rows:
            print("nothing found")
            return
        for i, r in enumerate(rows):
            print(f"  {i}:{r['url']} ({r['score']:.4f})")

    def _cmd_suggest(self, args: list[str]) -> None:
        # did-you-mean (engine extension): fuzzy dictionary
        # candidates ranked (distance asc, corpus df desc, term asc)
        if len(args) != 1:
            print("usage: suggest <word>")
            return
        from textindex_spark.query import suggest_terms

        try:
            got = suggest_terms(self.spark, self.index_dir, args[0])
        except ValueError as e:
            print(e)
            return
        if not len(got):
            print("no suggestions")
            return
        for r in got.itertuples(index=False):
            print(f"  {r.term} (distance {r.dist}, {r.df} docs)")

    def complete(self, text: str, state_line: str) -> list[str]:
        """Completion candidates for the token ``text`` at the end of
        ``state_line`` — command names in position 0, index terms
        after ``find``/``stats`` (the rustyline Helper analog)."""
        words = state_line.split()
        at_cmd = len(words) == 0 or (len(words) == 1 and not state_line.endswith(" "))
        if at_cmd:
            return [c for c in self.COMMANDS if c.startswith(text)]
        if words[0] in ("find", "stats", "bool"):
            from textindex_spark.query import _load_dictionary, _prefix_range

            dic = _load_dictionary(self.spark, self.index_dir)
            if dic is None:
                return []
            lo, hi = _prefix_range(dic.terms, text)
            return dic.terms[lo:min(hi, lo + 50)].tolist()
        return []


def run_loop(shell: Shell, input_lines=None) -> None:
    """REPL loop: readline + tab completion on a tty, or a plain
    line-at-a-time loop over ``input_lines`` / piped stdin."""
    import sys

    if input_lines is None and sys.stdin.isatty():
        try:
            import readline

            def completer(text, state):
                line = readline.get_line_buffer()
                cands = shell.complete(text, line)
                return cands[state] if state < len(cands) else None

            readline.set_completer(completer)
            readline.parse_and_bind("tab: complete")
        except ImportError:
            pass
        while True:
            try:
                line = input("> ")
            except (EOFError, KeyboardInterrupt):
                print()
                return
            try:
                out = shell.dispatch(line)
            except SystemExit:
                return
            if out:
                print(out, end="")
    else:
        src = input_lines if input_lines is not None else sys.stdin
        for line in src:
            try:
                out = shell.dispatch(line)
            except SystemExit:
                return
            if out:
                print(out, end="")
