"""Chunked single-document parsing — ``parseChunkStart`` /
``parseChunk`` / ``parseChunkTree`` / ``parseChunkEnd`` parity
(/root/reference/DOM.xs:814-931).

The pull tokenizer works over a growing buffer, so incremental parsing
is a pump loop with ROLLBACK: a pulled token is dispatched to the tree
builder only if it ended strictly before the buffer end — a token that
consumed the whole remaining buffer might be a truncated prefix of a
longer construct (text run, tag with more attributes, unterminated
comment, rawtext without its close tag), so its tokenizer state is
restored and parsing resumes when more input (or the EOF signal)
arrives.  The result is guaranteed identical to a whole-string parse of
the concatenated input (pinned by split-point fuzz in
tests/test_chunked.py).

Cross-chunk details handled here:
  * ``\\r\\n`` split across a chunk boundary normalizes to one newline
    (WHATWG §13.2.3.5 input preprocessing, done per-chunk);
  * tokenizer rawtext/cdata mode survives between chunks (it lives on
    the Tokenizer, and held-back tokens never advance it);
  * source positions refer to the normalized concatenated input, same
    as ``TreeBuilder.parse`` of the full string.
"""

from __future__ import annotations

from .document import Document
from .treebuilder import TreeBuilder


# token fields holding absolute source offsets, per token type — needed
# to re-base positions after the consumed buffer prefix is trimmed
_POS_FIELDS = {"char": (2,), "comment": (2, 4), "start": (4, 6),
               "end": (2, 4)}


class ChunkedParser:
    """One in-progress document parse fed by successive text chunks."""

    def __init__(self) -> None:
        self.tb = TreeBuilder()
        self.tb.begin("")
        self._raw_tail_cr = False
        self._base = 0   # chars trimmed off the front of tok.src
        self.ended = False

    # -- feeding --------------------------------------------------------
    def parse_chunk(self, chunk: str) -> "ChunkedParser":
        if self.ended:
            raise ValueError("parse_chunk after end()")
        if not chunk:
            # must not reset _raw_tail_cr: a \r\n pair split around an
            # empty chunk still collapses to one \n
            return self
        if self._raw_tail_cr and chunk.startswith("\n"):
            chunk = chunk[1:]  # \r\n split across the boundary
        self._raw_tail_cr = chunk.endswith("\r")
        if "\r" in chunk:
            chunk = chunk.replace("\r\n", "\n").replace("\r", "\n")
        tok = self.tb.tok
        # Amortized buffer maintenance: everything before tok.pos is
        # fully consumed (the held-back token, if any, starts AT pos),
        # so drop it before appending — an N-chunk feed is O(total),
        # not O(total^2).  Token positions are re-based in _pull.
        if tok.pos > 8192 and tok.pos * 2 > len(tok.src):
            self._base += tok.pos
            tok.src = tok.src[tok.pos:]
            tok.pos = 0
        tok.src += chunk
        tok.n = len(tok.src)
        tok._done = False
        self.tb.pump(self._pull)
        return self

    def end(self) -> Document:
        """Signal EOF; returns the completed Document."""
        if not self.ended:
            self.ended = True
            self.tb.pump(self._pull)
        return self.tb.doc

    def tree(self) -> Document:
        """The (possibly in-progress) document — parseChunkTree analog."""
        return self.tb.doc

    # -- token source ---------------------------------------------------
    def _pull(self):
        """The next token for ``TreeBuilder.pump``, or None to wait for
        more input."""
        tok = self.tb.tok
        save = (tok.pos, tok._done, tok._raw_mode, tok._raw_tag)
        token = tok.next_token()
        if not self.ended and (token[0] == "eof" or tok.pos >= tok.n):
            # possibly-truncated token: hold it back until more input
            tok.pos, tok._done, tok._raw_mode, tok._raw_tag = save
            return None
        if self._base:
            fields = _POS_FIELDS.get(token[0])
            if fields:
                token = list(token)
                for i in fields:
                    token[i] += self._base
                token = tuple(token)
        return token


def parse_chunked(chunks, encoding_name: str | None = None) -> Document:
    """Convenience: parse an iterable of str chunks to a Document."""
    p = ChunkedParser()
    for c in chunks:
        p.parse_chunk(c)
    doc = p.end()
    if encoding_name:
        doc.encoding = encoding_name
    return doc
