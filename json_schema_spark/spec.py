"""Constraint-spec model and $ref resolution registry (driver-side only).

Mirrors the reference's reference-resolution subsystem
(/root/reference/src/reference.lisp) as a *compile-time* component: the
registry is built once on the driver while the spec is compiled; no
executor ever resolves a ``$ref``.

Key reference behaviors preserved:

* JSON-pointer escapes ``~0`` -> ``~`` and ``~1`` -> ``/`` plus
  URL-decoding (src/reference.lisp:241-279).
* ``$id`` / ``id`` / ``$anchor`` harvesting per draft
  (src/reference.lisp:122-157, 475-530).
* base-URI merging for relative refs (src/reference.lisp:330-341).
* lookup depth cap of 100 (src/reference.lisp:35-36,59-66) — here a
  compile-time cycle/depth guard.
* remote fetching is OFF by default (hermetic runs), mirroring the
  ``*resolve-remote-references*`` kill switch
  (src/reference.lisp:43-56).
"""

from __future__ import annotations

import json
import urllib.parse
from dataclasses import dataclass, field
from typing import Any

DRAFTS = ("draft2019-09", "draft7", "draft6", "draft4", "draft3")
DEFAULT_DRAFT = "draft7"  # reference default: src/validators.lisp:12

_MAX_LOOKUP_DEPTH = 100  # src/reference.lisp:35-36


class SpecError(ValueError):
    """Raised for malformed constraint specs or unresolvable $refs."""


def unescape_pointer_token(token: str) -> str:
    """JSON-pointer token unescape: ``~1``->``/``, ``~0``->``~``, then
    URL-decode (src/reference.lisp:241-279; tests t/reference.lisp:21-26).

    Order matters: ``~1`` before ``~0`` so ``~01`` -> ``~1`` (literal).
    """
    token = urllib.parse.unquote(token)
    return token.replace("~1", "/").replace("~0", "~")


def pointer_tokens(fragment: str) -> list[str]:
    """Split a ``#/a/b`` fragment into unescaped tokens
    (src/reference.lisp:308-318)."""
    if fragment in ("", "#"):
        return []
    frag = fragment[1:] if fragment.startswith("#") else fragment
    if frag == "":
        return []
    if not frag.startswith("/"):
        # plain-name fragment ($anchor / draft<=7 "#name" id)
        return [frag]
    return [unescape_pointer_token(t) for t in frag.split("/")[1:]]


def _id_key(schema: dict, draft: str) -> str | None:
    """Per-draft $id keyword (src/reference.lisp:122-157)."""
    if draft == "draft4":
        return schema.get("id")
    return schema.get("$id") or schema.get("id")


@dataclass(eq=False)
class SpecRegistry:
    """uri -> document and uri -> {anchor -> schema} caches
    (reference ``context``: src/reference.lisp:103-119).

    Reused across runs; building it once and compiling many partitions
    is the engine analogue of the reference's 245x cached-context
    speedup (benchmark.lisp:13-47). A registry is equal only to itself,
    and ``version`` counts the documents added to it, so that what was
    compiled against it can be kept until it changes.
    """

    root: Any = None
    draft: str = DEFAULT_DRAFT
    references: dict[str, Any] = field(default_factory=dict)
    named: dict[str, dict[str, Any]] = field(default_factory=dict)
    resolve_remote: bool = False  # src/reference.lisp:43-56 kill switch
    version: int = field(default=0, init=False, repr=False)

    def __post_init__(self) -> None:
        if self.root is not None:
            base = ""
            if isinstance(self.root, dict):
                base = _id_key(self.root, self.draft) or ""
            self.add_document(base, self.root)

    # -- registry build (src/reference.lisp:475-530) -----------------
    def add_document(self, uri: str, doc: Any) -> None:
        uri = _strip_fragment(uri)
        self.version += 1
        self.references[uri] = doc
        self.named.setdefault(uri, {})
        self._harvest(doc, uri)

    def _harvest(self, node: Any, base: str, under_properties: bool = False) -> None:
        """Recursive $id/$anchor harvest (src/reference.lisp:475-530).

        Mirrors the reference's "skip $id directly under properties"
        hack (src/reference.lisp:484-486): a key literally named "$id"
        inside a properties map is a property name, not an identifier.
        """
        if isinstance(node, dict):
            sid = None if under_properties else _id_key(node, self.draft)
            if isinstance(sid, str) and sid:
                merged = urllib.parse.urljoin(base, sid)
                frag = urllib.parse.urlsplit(merged).fragment
                if frag and not frag.startswith("/"):
                    # "#name" style id (draft<=7) registers an anchor
                    self.named.setdefault(_strip_fragment(merged), {})[frag] = node
                else:
                    self.references[_strip_fragment(merged)] = node
                    self.named.setdefault(_strip_fragment(merged), {})
                base = _strip_fragment(urllib.parse.urljoin(base, sid))
            anchor = node.get("$anchor")
            if isinstance(anchor, str) and anchor:
                self.named.setdefault(base, {})[anchor] = node
            for key, val in node.items():
                self._harvest(val, base, under_properties=(key == "properties"))
        elif isinstance(node, list):
            for item in node:
                self._harvest(item, base, under_properties=False)

    # -- resolution (src/reference.lisp:330-341, 408-471) ------------
    def resolve(self, ref: str, base: str = "") -> Any:
        """Resolve a $ref string against a base URI; returns the target
        schema value (src/reference.lisp:468-471)."""
        merged = urllib.parse.urljoin(base, ref) if base else ref
        split = urllib.parse.urlsplit(merged)
        uri = _strip_fragment(merged)
        fragment = split.fragment

        doc = self._document_for(uri)
        if fragment and not fragment.startswith("/"):
            anchors = self.named.get(uri, {})
            if fragment in anchors:
                return anchors[fragment]
            raise SpecError(f"unresolvable anchor {fragment!r} in {uri!r}")
        return self._pointer_walk(doc, pointer_tokens("#" + fragment), uri)

    def _document_for(self, uri: str) -> Any:
        if uri in self.references:
            return self.references[uri]
        if uri == "":
            return self.root
        if self.resolve_remote and uri.startswith(("http://", "https://")):
            import urllib.request  # driver-only, default-off

            with urllib.request.urlopen(uri, timeout=10) as resp:
                doc = json.loads(resp.read().decode("utf-8"))
            self.add_document(uri, doc)
            return doc
        raise SpecError(
            f"unknown document {uri!r} (remote resolution disabled; "
            "mirrors *resolve-remote-references* nil)"
        )

    def _pointer_walk(self, doc: Any, tokens: list[str], uri: str) -> Any:
        """Pointer walk with depth cap (src/reference.lisp:408-465)."""
        node = doc
        for depth, token in enumerate(tokens):
            if depth > _MAX_LOOKUP_DEPTH:
                raise SpecError("$ref lookup depth cap (100) exceeded")
            if isinstance(node, list):
                try:
                    node = node[int(token)]
                except (ValueError, IndexError) as exc:
                    raise SpecError(f"bad array pointer {token!r} in {uri!r}") from exc
            elif isinstance(node, dict):
                if token not in node:
                    raise SpecError(f"pointer miss {token!r} in {uri!r}")
                node = node[token]
            else:
                raise SpecError(f"pointer into scalar at {token!r} in {uri!r}")
        return node


@dataclass
class ConstraintSpec:
    """A parsed column-level constraint spec.

    Shape (FIXTURES.md §3)::

        {"$id": ..., "draft": "draft7",
         "columns": {colname: <json-schema keywords>},
         "required": [colname, ...],
         "$defs": {...},
         "dataset": {"unique": [...], "ref": [...], "drift": [...],
                     "dedup": [...], "blocklist": [...],
                     "quality": [...], "normalized": [...]}}

    The column sub-schemas reuse the reference's keyword vocabulary
    (src/validators.lisp:657-808 dispatch tables).
    """

    raw: dict
    draft: str = DEFAULT_DRAFT
    registry: SpecRegistry = field(init=False)

    def __post_init__(self) -> None:
        if not isinstance(self.raw, dict):
            raise SpecError("constraint spec must be a JSON object")
        self.draft = self.raw.get("draft", self.draft)
        if self.draft not in DRAFTS:
            raise SpecError(f"unknown draft {self.draft!r}")
        self.registry = SpecRegistry(root=self.raw, draft=self.draft)
        # compile-time spec lint mirroring the `description` validator
        # (src/validators.lisp:307-309): annotations must be strings.
        desc = self.raw.get("description")
        if desc is not None and not isinstance(desc, str):
            raise SpecError("description must be a string")

    @classmethod
    def loads(cls, text: str) -> "ConstraintSpec":
        return cls(json.loads(text))

    @property
    def columns(self) -> dict[str, Any]:
        return self.raw.get("columns", {})

    @property
    def required(self) -> list[str]:
        return self.raw.get("required", [])

    @property
    def dataset(self) -> dict[str, Any]:
        return self.raw.get("dataset", {})

    def deref(self, schema: Any, depth: int = 0) -> Any:
        """Inline $refs in a (sub)schema, driver-side, with cycle cap.

        The runtime never sees a $ref — mirrors §2.3 of SURVEY.md: the
        reference resolves at validation time, we resolve at compile
        time.
        """
        if depth > _MAX_LOOKUP_DEPTH:
            raise SpecError("$ref expansion depth cap exceeded")
        if isinstance(schema, dict) and "$ref" in schema:
            target = self.registry.resolve(schema["$ref"])
            return self.deref(target, depth + 1)
        return schema


def _strip_fragment(uri: str) -> str:
    return urllib.parse.urldefrag(uri)[0]
