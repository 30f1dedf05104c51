"""Classic syslog PRI selectors → facility bitmask → Column predicate.

Reference semantics: a selector list like ``mail.info;*.=err;kern.none``
builds a per-facility bitmask of severities (pmask[25]); a message
matches iff ``pmask[facility] & (1 << severity)``.
Eval: runtime/ruleset.c:403-420; mask construction:
grammar/rainerscript.c:450-520 (DecodePRIFilter).

Priority grammar per facility group:
    name          this severity and all more-important (numerically <=)
    =name         exactly this severity
    !name         clear this severity and more-important
    !=name        clear exactly this severity
    none          clear all severities for the facilities
    *             all severities
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from rsyslog_spark.parsing.core import FACILITY_TEXT, SEVERITY_TEXT

FACILITY_NUM = {name: i for i, name in enumerate(FACILITY_TEXT)}
FACILITY_NUM["security"] = 4  # legacy alias for auth
SEVERITY_NUM = {name: i for i, name in enumerate(SEVERITY_TEXT)}
SEVERITY_NUM.update({"error": 3, "warn": 4, "panic": 0})

N_FAC = 24


def selector_mask(selector: str) -> list[int]:
    """Parse a selector list into the 24-entry severity bitmask table."""
    pmask = [0] * N_FAC
    for part in selector.split(";"):
        part = part.strip()
        if not part:
            continue
        if "." not in part:
            raise ValueError(f"bad selector (no '.'): {part!r}")
        fac_s, prio_s = part.rsplit(".", 1)
        prio_s = prio_s.strip().lower()
        facs = (
            list(range(N_FAC))
            if fac_s.strip() == "*"
            else [FACILITY_NUM[f.strip().lower()] for f in fac_s.split(",")]
        )
        clear_exact = prio_s.startswith("!=")
        clear_upto = prio_s.startswith("!") and not clear_exact
        name = prio_s.lstrip("!=") if (clear_exact or clear_upto) else prio_s

        if name == "none":
            for f in facs:
                pmask[f] = 0
            continue
        if name == "*":
            bits = 0xFF
        elif "=" in prio_s and not clear_exact:  # '=info' exact
            bits = 1 << SEVERITY_NUM[name.lstrip("=")]
        elif clear_exact:
            bits = 1 << SEVERITY_NUM[name]
        else:  # severity and more-important: bits 0..sev
            bits = (1 << (SEVERITY_NUM[name] + 1)) - 1
        for f in facs:
            if clear_exact or clear_upto:
                pmask[f] &= ~bits & 0xFF
            else:
                pmask[f] |= bits
    return pmask


def mask_predicate(
    pmask: list[int],
    facility: Column | str = "facility",
    severity: Column | str = "severity",
) -> Column:
    """Branch-free predicate: pmask[facility] & (1<<severity) != 0.

    Compiles to a literal array lookup + bit test — exactly the
    reference's O(1) eval (ruleset.c:414), vectorized by codegen.
    """
    fac = F.col(facility) if isinstance(facility, str) else facility
    sev = F.col(severity) if isinstance(severity, str) else severity
    arr = F.array(*[F.lit(m) for m in pmask])
    got = F.try_element_at(arr, fac.cast("int") + 1)
    bit = F.try_element_at(
        F.array(*[F.lit(1 << i) for i in range(8)]), sev.cast("int") + 1
    )
    return (
        (got.bitwiseAND(bit) != 0) & fac.isNotNull() & sev.isNotNull()
    )


def prifilt(selector: str, facility="facility", severity="severity") -> Column:
    """The prifilt("...") script function (rainerscript.c:2667-2680)."""
    return mask_predicate(selector_mask(selector), facility, severity)


def mask_sql(pmask: list[int], facility="facility", severity="severity") -> str:
    """ANSI-SQL rendering of the same bit test (for DuckDB oracles)."""
    whens = " ".join(
        f"WHEN {i} THEN {m}" for i, m in enumerate(pmask)
    )
    return (
        f"((CASE {facility} {whens} ELSE 0 END) "
        f"& (1 << {severity})) != 0"
    )
