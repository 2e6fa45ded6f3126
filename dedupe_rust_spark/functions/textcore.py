"""Deterministic html -> text extraction (pure bytes in, str out).

This is the parity-critical surface: BASELINE.json's per-row invariant is
"byte-identical extracted text per url" across runs and parallelism levels.
The reference analog is the full-decode step `load_image`
(/root/reference/src/main.rs:659-681) with its deterministic format-fallback
chain (HEIC interleaved-RGB -> YCbCr -> gray, src/main.rs:735-789); here the
fallback chain is encoding-based (utf-8 -> cp1252 -> latin-1) and the
"decode" is tag-stripping HTML extraction.

Rules (bump ALGO_VERSION, the resume key's code version, on any behavior
change):
  1. None / empty bytes             -> None
  2. decode utf-8, else cp1252, else latin-1 (latin-1 never fails)
  3. no "<html" marker (case-insens) -> None   (garbage bytes)
  4. drop <script>/<style> blocks (case-insensitive, dotall)
  5. title := first <title>...</title>; paragraphs := every <p>...</p>
  6. strip residual tags, unescape HTML entities, strip whitespace
  7. text := "\n\n".join(non-empty parts); "" -> None

Everything is stdlib-only and locale/env independent.
"""

from __future__ import annotations

import html as _html
import re

_SCRIPT_RE = re.compile(rb"<script\b.*?</script\s*>", re.IGNORECASE | re.DOTALL)
_STYLE_RE = re.compile(rb"<style\b.*?</style\s*>", re.IGNORECASE | re.DOTALL)
_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title\s*>", re.IGNORECASE | re.DOTALL)
_PARA_RE = re.compile(r"<p\b[^>]*>(.*?)</p\s*>", re.IGNORECASE | re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_ENCODINGS = ("utf-8", "cp1252", "latin-1")


def decode_bytes(raw: bytes) -> str:
    """Deterministic encoding-fallback decode; latin-1 terminal (never fails)."""
    for enc in _ENCODINGS:
        try:
            return raw.decode(enc)
        except (UnicodeDecodeError, ValueError):
            continue
    return raw.decode("latin-1", errors="replace")  # unreachable


def _clean_fragment(frag: str) -> str:
    return _html.unescape(_TAG_RE.sub("", frag)).strip()


def extract_text(raw: bytes | None) -> str | None:
    """bytes -> extracted text, or None for null/empty/garbage input."""
    if raw is None or len(raw) == 0:
        return None
    # script/style removal on bytes keeps the decode fallback chain intact
    # even when garbage bytes hide inside a script block.
    stripped = _STYLE_RE.sub(b"", _SCRIPT_RE.sub(b"", raw))
    doc = decode_bytes(stripped)
    low = doc.lower()
    if "<html" not in low:
        return None
    parts: list[str] = []
    m = _TITLE_RE.search(doc)
    if m:
        t = _clean_fragment(m.group(1))
        if t:
            parts.append(t)
    for frag in _PARA_RE.findall(doc):
        p = _clean_fragment(frag)
        if p:
            parts.append(p)
    text = "\n\n".join(parts)
    return text if text else None


def render_html(title: str, paragraphs: list[str]) -> bytes:
    """Inverse of extract_text for synthetic pages: extract(render(t,ps))
    == "\n\n".join([t]+ps) byte-for-byte (generator-side helper)."""
    body = "".join(f"<p>{_html.escape(p)}</p>" for p in paragraphs)
    doc = (
        f"<html><head><title>{_html.escape(title)}</title></head>"
        f"<body>{body}</body></html>"
    )
    return doc.encode("utf-8")
