"""Matched-pair property-chain config parser — the reference's wire
format for property selection in batch fusion.

Reference: BatchFusionServlet.java:1793-1822
(/root/reference/fagi-gis-service/src/main/java/gr/athenainnovation/imis/fagi/gis/service/BatchFusionServlet.java)
with ``Constants.PROPERTY_SEPARATOR = "=>"``
(/root/reference/fagi-gis/src/main/java/gr/athenainnovation/imis/fusion/gis/utils/Constants.java:64).

Grammar (as the servlet actually parses it):

    spec      := leftSide "=>" rightSide
    side      := alt ("|" alt)* ["|"]          (trailing "|" stripped)
    alt       := hop ("," hop)*                (a property chain, depth<=6)

plus two servlet quirks replicated here:
* HTML-escaped "&gt;" is unescaped to ">" before splitting;
* the fused predicate's local name is the SHORT spec's left token with
  "," and " " rewritten to "_".
"""

from __future__ import annotations

from dataclasses import dataclass

PROPERTY_SEPARATOR = "=>"  # Constants.java:64


@dataclass(frozen=True)
class ChainPairSpec:
    """Parsed matched-pair selection: each side is a list of alternative
    property chains; each chain is a list of predicate hops."""

    left: tuple[tuple[str, ...], ...]
    right: tuple[tuple[str, ...], ...]

    def left_chain_keys(self) -> list[str]:
        """Alternatives as the engine's comma-joined chain keys
        (operators.metadata.expand_chains notation)."""
        return [",".join(c) for c in self.left]

    def right_chain_keys(self) -> list[str]:
        return [",".join(c) for c in self.right]


def _parse_side(side: str) -> tuple[tuple[str, ...], ...]:
    side = side.strip()
    if side.endswith("|"):  # StringUtils.removeEnd(side, "|")
        side = side[:-1]
    alts = []
    for alt in side.split("|"):
        hops = tuple(h.strip() for h in alt.split(",") if h.strip())
        if hops:
            alts.append(hops)
    return tuple(alts)


def parse_chain_pair(spec: str) -> ChainPairSpec:
    """Parse a ``leftChains => rightChains`` selection string."""
    spec = spec.replace("&gt;", ">")  # servlet-side HTML unescape
    parts = spec.split(PROPERTY_SEPARATOR)
    if len(parts) != 2:
        raise ValueError(
            f"chain spec needs exactly one {PROPERTY_SEPARATOR!r}: {spec!r}"
        )
    return ChainPairSpec(_parse_side(parts[0]), _parse_side(parts[1]))


def fused_predicate_name(short_spec: str) -> str:
    """Local name of the fused output predicate: the short spec's left
    token, with "," and " " rewritten to "_" (BatchFusionServlet.java:
    1797-1806)."""
    short_spec = short_spec.replace("&gt;", ">")
    left = short_spec.split(PROPERTY_SEPARATOR)[0]
    return left.replace(",", "_").replace(" ", "_")


def metadata_keep_from_spec(
    links,
    triples,
    side: str,
    spec: str | ChainPairSpec,
    dom_onto: str,
    new_pred: str | None = None,
    dominant: str = "a",
):
    """metadata_keep accepting the reference wire format: the chosen
    side's alternatives are all kept, as a list of chain keys."""
    from fagi_gis_spark.operators.metadata import metadata_keep

    parsed = parse_chain_pair(spec) if isinstance(spec, str) else spec
    keys = parsed.left_chain_keys() if side == "a" else parsed.right_chain_keys()
    if new_pred is None:
        new_pred = "_".join(keys[0].split(","))
    return metadata_keep(links, triples, side, keys, dom_onto, new_pred, dominant)
