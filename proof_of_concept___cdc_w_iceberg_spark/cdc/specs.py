"""Partition-spec evolution over the snapshot ledger.

Iceberg's flagship v2 metadata feature: a table's partition spec can
CHANGE mid-life — ``ALTER TABLE ... REPLACE PARTITION FIELD
bucket(16, k) WITH bucket(32, k)`` — without rewriting a byte. Files
written under the old spec stay valid; scan planning unions specs;
data migrates to the new layout only when a write happens to touch it
(`pom.xml:15` pins Iceberg 1.9.2; the reference's sink table would
evolve exactly this way when a CDC mirror outgrows its bucket count).

Rebuilt here on SnapshotMirror's manifest ledger:

- every manifest bucket entry is SPEC-QUALIFIED: ``"{n}:{b}"`` means
  "bucket b under the n-bucket layout"; the manifest also records the
  CURRENT spec (``n_buckets``) that future writes use;
- ``evolve_spec(new_n)`` is a METADATA-ONLY commit (Iceberg's spec
  change): same bucket entries, new current spec — zero data moves;
- ``apply`` routes the batch by the CURRENT spec and rewrites, per
  touched new-spec bucket, ONLY the manifest entries that can hold
  its keys. The containment proof that keeps this touched-only:
  specs only grow by integer MULTIPLES, so every live entry's
  ``n_e`` divides the current ``N``, and a key in new bucket
  ``t = pmod(h, N)`` lives in old bucket ``pmod(h, n_e) =
  pmod(t, n_e)`` — exactly one candidate entry per (touched bucket,
  old spec). Rewritten rows land under the CURRENT spec, so old-spec
  entries drain as writes touch them — Iceberg's lazy migration —
  while untouched entries carry verbatim (file reuse);
- ``read`` is untouched: the base reader unions all manifest dirs,
  which is spec-agnostic by construction (scan planning across
  specs).

At 100 TB: evolve is one manifest write; each apply still reads and
rewrites only the touched slice (at worst the touched new buckets'
old-spec parents — the same rows a COW merge must rewrite anyway);
nothing ever rewrites the table wholesale. The multiple-of-current
restriction is the modular-arithmetic price of COW key routing —
real Iceberg permits arbitrary re-specs because its merge-on-read
scan does not need key co-location; a general re-spec here is
``compact()``-style full rewrite, deliberately out of scope.

Laws in tests/test_r16_ops.py: content-invisibility across an evolve
(oracle = the same latest-wins relation a plain mirror produces),
mid-migration reads, lazy-drain + file-reuse on the manifest, and the
multiple-only refusal. Registered as q_cdc_evolve_spec, whose oracle
is the sequential-apply relation (WAP_RACE_MIRROR_SQL).
"""

from __future__ import annotations

from .bucketed import BUCKET_COL
from .versioned import SnapshotMirror


def _parse_label(label: str) -> tuple[int, int]:
    """("{n}:{b}") -> (n, b)."""
    n, b = label.split(":", 1)
    return int(n), int(b)


class SpecEvolvingMirror(SnapshotMirror):
    """SnapshotMirror whose bucket layout can evolve mid-table. It
    supplies only its entry layout to the base merge/commit loop:
    spec-qualified labels, the modular affected-entry rule, and the
    CURRENT spec as a top-level manifest rider (so every bucket value
    stays a plain data path for expire's referenced-dir walk)."""

    def _spec(self, manifest: dict) -> int:
        return int(manifest.get("spec", self.n_buckets))

    def _rider(self, spec: int) -> dict:
        return {"extra": {"spec": spec}}

    def _affected(self, entries: dict[str, str],
                  touched: set[int]) -> dict[str, str]:
        """Entry ``"{n_e}:{b_e}"`` is affected iff ``b_e`` is in
        ``{t % n_e}`` over the touched current-spec buckets ``t``
        (module docstring: one candidate entry per touched bucket and
        live spec). The modulo set is computed once per distinct
        ``n_e``, not per entry."""
        mods: dict[int, set[int]] = {}
        out = {}
        for label, d in entries.items():
            n_e, b_e = _parse_label(label)
            if n_e not in mods:
                mods[n_e] = {t % n_e for t in touched}
            if b_e in mods[n_e]:
                out[label] = d
        return out

    def _adopt(self, kept: dict[str, str], written: dict[str, str],
               spec: int) -> dict[str, str]:
        """Label rewritten buckets under ``spec``. Children-partition
        invariant: a rewritten row can only land in a bucket whose
        finer entry does not already live (its coarse ancestor died the
        first time that bucket was touched). A collision means the
        invariant broke — refuse loudly rather than shadow live data."""
        out = dict(kept)
        for b, d in written.items():
            label = f"{spec}:{b}"
            if label in out:
                raise RuntimeError(
                    f"spec-migration invariant violated: rewrite "
                    f"produced {label} but a live entry exists")
            out[label] = d
        return out

    def _entries(self, manifest: dict) -> dict[str, str]:
        """The spec-qualified data entries ("{n}:{b}" -> dir)."""
        return dict(manifest["buckets"])

    def current_spec(self, manifest: dict | None = None) -> int:
        return self._spec(manifest if manifest is not None else
                          self._load_manifest(self.current_version()))

    def evolve_spec(self, new_n: int) -> int:
        """Metadata-only spec change: same data entries, new CURRENT
        spec for future writes. Refuses a spec that is not a proper
        integer multiple of the current one — divisibility is what
        keeps every later apply touched-only (module docstring)."""
        base = self.current_version()
        m = self._load_manifest(base)
        cur = self.current_spec(m)
        if new_n <= cur or new_n % cur != 0:
            raise ValueError(
                f"spec can only grow by an integer multiple: current "
                f"{cur}, requested {new_n}")
        return self._commit(self._entries(m), m["schema"], parent=base,
                            linear=True, **self._rider(new_n))

    def spec_census(self) -> dict[int, int]:
        """{spec: live entry count} at the head — the lazy-migration
        progress gauge (old specs drain to zero as writes touch
        them)."""
        m = self._load_manifest(self.current_version())
        out: dict[int, int] = {}
        for label in self._entries(m):
            n, _ = _parse_label(label)
            out[n] = out.get(n, 0) + 1
        return out

    def migrate(self) -> int:
        """FINISH the lazy migration: rewrite every old-spec entry
        under the current spec in one maintenance commit (Iceberg's
        ``rewrite_data_files`` closing out a spec change). Current-spec
        entries carry verbatim (file reuse — the action touches only
        the stragglers); content-invisible like compaction. A no-op
        commit-free return when nothing is left to migrate."""
        base = self.current_version()
        m = self._load_manifest(base)
        spec = self.current_spec(m)
        entries = self._entries(m)
        old = {l: d for l, d in entries.items()
               if _parse_label(l)[0] != spec}
        if not old:
            return base
        moved = self._read_dirs(sorted(old.values()),
                                m["schema"]).drop(BUCKET_COL)
        written = self._write_commit_data(
            moved, self.current_version() + 1, n_buckets=spec)
        kept = {l: d for l, d in entries.items() if l not in old}
        return self._commit(self._adopt(kept, written, spec), m["schema"],
                            parent=base, linear=True,
                            **self._rider(spec))
