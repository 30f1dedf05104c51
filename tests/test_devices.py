"""Device parser fixups (pmciscoios / pmlastmsg / pmnull)."""

from __future__ import annotations

from rsyslog_spark.parsing import parse
from rsyslog_spark.parsing.devices import pmciscoios, pmlastmsg, pmnull


def _tok(spark, lines):
    return spark.createDataFrame(
        [(ln, [ord(c) for c in ln]) for ln in lines],
        "line string, tokens array<int>",
    )


def test_pmciscoios(spark):
    lines = [
        "<189>123: rtr1: *Mar  6 16:57:54: %SYS-5-CONFIG_I: Configured from console",
        "<189>77: .Jul  9 01:02:03.123: %LINK-3-UPDOWN: Interface up",
        "<38>Apr  4 03:06:12 gate sshd[1]: normal line",
    ]
    out = pmciscoios(parse(_tok(spark, lines))).collect()
    byline = {r.line: r for r in out}
    c1 = byline[lines[0]]
    assert c1.cisco_seq == 123 and c1.hostname == "rtr1"
    assert c1.programname == "%SYS-5-CONFIG_I"
    assert c1.msg == "Configured from console"
    assert c1.timereported_str == "Mar  6 16:57:54"
    c2 = byline[lines[1]]
    assert c2.cisco_seq == 77 and c2.programname == "%LINK-3-UPDOWN"
    n = byline[lines[2]]
    assert n.cisco_seq is None and n.programname == "sshd"


def test_pmlastmsg(spark):
    lines = [
        "<46>Nov  2 00:00:00 relay last message repeated 42 times",
        "<38>Apr  4 03:06:12 gate sshd[1]: normal",
    ]
    out = pmlastmsg(parse(_tok(spark, lines))).collect()
    byline = {r.line: r for r in out}
    assert byline[lines[0]].repeat_count == 42
    assert byline[lines[0]].msg.startswith("last message repeated")
    assert byline[lines[1]].repeat_count is None
    assert byline[lines[1]].syslogtag == "sshd[1]:"


def test_pmnull(spark):
    lines = ["<13>anything at all goes here"]
    out = pmnull(parse(_tok(spark, lines))).first()
    assert out.msg == "anything at all goes here"
    assert out.hostname is None and out.parse_success


def test_pmnormalize_promotes_fields(spark):
    """pmnormalize: rulebase-parsed raw line promotes well-known
    properties (pmnormalize.c:206-229 + msg.c msgSetPropViaJSON);
    unmatched rows fall through unchanged (COULD_NOT_PARSE)."""
    from rsyslog_spark import mm
    from rsyslog_spark.parsing.devices import pmnormalize

    # the reference fixture's shape (tests/testsuites/
    # pmnormalize_basic.rulebase): pri, hostname, tag, ipv4, rest
    rules = mm.load_rulebase(
        r"rule=:<%pri:number%> %hostname:word% %syslogtag:char-to:\x3a%: "
        r"is no longer listening on %peer:ipv4% %msg:rest%"
    )
    df = spark.createDataFrame(
        [
            ("<38> server1 sshd[42]: is no longer listening on "
             "10.0.0.7 port 22",),
            ("unparseable line",),
        ],
        "rawmsg string",
    )
    rows = pmnormalize(df, rules).collect()
    r = rows[0]
    assert r.pmn_matched
    assert r.pri == 38 and r.facility == 4 and r.severity == 6
    assert r.hostname == "server1" and r.syslogtag == "sshd[42]"
    assert r.programname == "sshd"
    assert r.msg == "port 22"
    assert r.norm["peer"] == "10.0.0.7"
    assert not rows[1].pmn_matched and rows[1].hostname is None


def test_pmnormalize_keeps_parsed_header_of_unmatched_rows(spark):
    """Over a parse()d frame the promoted columns already exist: a
    matched row takes the rulebase's fields, an unmatched row keeps
    every header column the RFC parser gave it."""
    from rsyslog_spark import mm
    from rsyslog_spark.parsing.devices import pmnormalize

    rules = mm.load_rulebase(
        r"rule=:<%pri:number%> %hostname:word% %syslogtag:char-to:\x3a%: "
        r"is no longer listening on %peer:ipv4% %msg:rest%"
    )
    lines = [
        "<38> server1 sshd[42]: is no longer listening on 10.0.0.7 port 22",
        "<165>Apr  4 03:06:12 gate cron[7]: job done",
    ]
    rows = {r.line: r for r in pmnormalize(
        parse(_tok(spark, lines)), rules
    ).collect()}
    hit, miss = rows[lines[0]], rows[lines[1]]
    assert hit.pmn_matched and hit.hostname == "server1"
    assert hit.facility == 4 and hit.programname == "sshd"
    assert not miss.pmn_matched and miss.norm is None
    assert miss.hostname == "gate" and miss.facility == 20
    assert miss.severity == 5 and miss.syslogtag == "cron[7]:"
    assert miss.programname == "cron" and miss.msg == " job done"


def _parsed(spark, lines):
    df = spark.createDataFrame([(s,) for s in lines], "line string")
    from pyspark.sql import functions as F

    df = df.withColumn("rawmsg", F.col("line"))
    # minimal header-column scaffold like parse() provides
    for c in ("hostname", "syslogtag", "programname", "timereported_str",
              "procid", "msg"):
        df = df.withColumn(c, F.lit(None).cast("string"))
    return df.withColumn("severity", F.lit(None).cast("int")).withColumn(
        "parse_success", F.lit(False)
    )


def test_pmsnare(spark):
    """pmsnare.c detection shapes: headerless host<TAB>tag and
    syslog-framed TS host tag<TAB>, with real-tab and #011
    representations (pmsnare.c:244-260 auto-detect)."""
    from rsyslog_spark.parsing.devices import pmsnare

    rows = pmsnare(_parsed(spark, [
        "other.lab.home\tMSWinEventLog\t1\tSecurity\t606129",
        "<14>May 17 02:25:10 syslog.lab.home MSWinEventLog\t1\tSecurity",
        "web01#011LinuxKAudit#011type=SYSCALL",
        "<13>May 17 02:25:10 host55 sshd[1]: normal message",
    ])).collect()
    assert rows[0].snare and rows[0].hostname == "other.lab.home"
    assert rows[0].programname == "MSWinEventLog"
    assert rows[0].msg == "1\tSecurity\t606129"
    assert rows[1].snare and rows[1].hostname == "syslog.lab.home"
    assert rows[1].timereported_str == "May 17 02:25:10"
    assert rows[2].snare and rows[2].programname == "LinuxKAudit"
    assert rows[2].msg == "type=SYSCALL"
    assert not rows[3].snare and rows[3].hostname is None


def test_pmaixforwardedfrom(spark):
    """pmaixforwardedfrom.c: strip 'Message forwarded from host:' /
    'From host:' preambles, keeping host as HOSTNAME."""
    from rsyslog_spark.parsing.devices import pmaixforwardedfrom

    rows = pmaixforwardedfrom(_parsed(spark, [
        "<13>May 17 02:25:10 Message forwarded from aixbox1: "
        "sshd[123]: session opened",
        "<13>May 17 02:25:10 From aixbox2: cron: job done",
        "<13>May 17 02:25:10 host9 app: unrelated",
    ])).collect()
    assert rows[0].hostname == "aixbox1"
    assert rows[0].syslogtag == "sshd[123]:" and rows[0].programname == "sshd"
    assert rows[0].msg == "session opened"
    assert rows[1].hostname == "aixbox2" and rows[1].msg == "job done"
    assert rows[2].hostname is None  # untouched


def test_pmdb2diag(spark):
    """pmdb2diag.c at the reference defaults (levelpos=59, timepos=0,
    shift=49) over a tests/pmdb2diag*-shaped line."""
    from rsyslog_spark.parsing.devices import pmdb2diag

    # pad so PROC's value sits exactly pid_start+49 like real db2diag
    tail = "PID : 4390912              TID : 1           PROC : "
    tail += " " * (49 + (tail.index(":") + 2) - len(tail) - 1) + " db2sysc 0"
    line = ("<14>2015-05-06-16.53.26.989430+120 E1876227378A1702     "
            "LEVEL: Info" + tail)
    lvlpos = line.replace("<14>", "").index("LEVEL: I") + len("LEVEL: ")
    rows = pmdb2diag(
        _parsed(spark, [line, "<13>ordinary message"]),
        levelpos=lvlpos, pid_to_prog_shift=49,
    ).collect()
    r = rows[0]
    assert r.severity == 6  # Info
    assert r.procid == "4390912"
    assert r.programname == "db2sysc"
    assert r.timereported_str == "2015-05-06-16.53.26.989430+120"
    assert rows[1].severity is None and rows[1].procid is None


def test_pmpanngfw(spark):
    """pmpanngfw.c README transformation: CSV→TSV, quoted fields keep
    embedded commas, '""' unescapes to '"'."""
    from rsyslog_spark.parsing.devices import pmpanngfw

    msg = ('1,2012/04/10 02:48:29,001606001116,THREAT,url,1,'
           '"www.fb.com/x.php?a=1&b={""k"":2},more",(9999),social')
    out = pmpanngfw(
        spark.createDataFrame([(msg,), ("plain text msg",)], "msg string")
    ).collect()
    assert out[0].pan
    fields = out[0].msg.split("\t")
    assert fields[3] == "THREAT"
    assert fields[6] == 'www.fb.com/x.php?a=1&b={"k":2},more'
    assert fields[7] == "(9999)"
    assert not out[1].pan and out[1].msg == "plain text msg"


def test_pmpanngfw_whitespace_and_stray_quotes(spark):
    """r4 ADVICE fixes: the in-place rewrite preserves leading
    whitespace (reference rewrites msg in place, pmpanngfw.c:109), and
    '""' outside a quoted field is an EMPTY field, not an unescape
    target (the old global '""'->'"' pass corrupted it)."""
    from rsyslog_spark.parsing.devices import pmpanngfw

    msg = (' 1,2025/01/01 00:00:00,serial,TRAFFIC,"",a""b,"x""y"')
    out = pmpanngfw(
        spark.createDataFrame([(msg,)], "msg string")
    ).first()
    assert out.pan
    # leading space survives the rewrite
    assert out.msg.startswith(" 1\t")
    fields = out.msg.lstrip().split("\t")
    assert fields[4] == ""            # "" = empty quoted field
    assert fields[5] == "ab"          # a""b: toggle in + straight out —
    #                                   NOT an escape (old code made a"b)
    assert fields[6] == 'x"y'         # escaped quote INSIDE quotes


def test_mmleefparse(spark):
    """mmleefparse.c over the tests/mmleefparse_basic.sh PAN-OS shape
    ('|' extension delimiter) and a tab-delimited LEEF 2.0 event."""
    from rsyslog_spark.parsing.devices import mmleefparse

    pan = ("LEEF:1.0|Palo Alto Networks|PAN-OS Syslog Integration|"
           "11.1.6-h14|allow|cat=TRAFFIC|src=172.19.50.39|"
           "dst=172.19.5.50|proto=tcp|usrName=")
    out = mmleefparse(
        spark.createDataFrame([(pan,)], "msg string"), delimiter="|"
    ).first()
    assert out.leef_success
    h = out.leef.header
    assert h.version == "1.0" and h.vendor == "Palo Alto Networks"
    assert h.product_version == "11.1.6-h14" and h.event_id == "allow"
    f = out.leef.fields
    assert f["cat"] == "TRAFFIC" and f["src"] == "172.19.50.39"
    assert f["proto"] == "tcp" and f["usrName"] == ""

    tabbed = ("<13>Feb 18 06:42:17 host LEEF:2.0|IBM|QRadar|2.0|12345|"
              "devTime=Sep 17 2025\tsev=5\tescaped\\|pipe=yes")
    out2 = mmleefparse(
        spark.createDataFrame([(tabbed,)], "msg string")
    ).first()
    assert out2.leef_success  # cookie searched mid-message
    assert out2.leef.header.vendor == "IBM"
    assert out2.leef.fields["sev"] == "5"
    assert out2.leef.fields["escaped|pipe"] == "yes"
    out3 = mmleefparse(
        spark.createDataFrame([("no cookie here",)], "msg string")
    ).first()
    assert not out3.leef_success and out3.leef is None


def test_mmsnareparse(spark):
    """mmsnareparse.c populate_event_metadata layouts over the
    tests/mmsnareparse-basic.sh fixture shape."""
    from rsyslog_spark.parsing.devices import mmsnareparse

    rfc5424 = ("MSWinEventLog\t1\tSecurity\t802301\t"
               "Tue Feb 18 06:42:17 2025\t4624\t"
               "Microsoft-Windows-Security-Auditing\tN/A\tN/A\t"
               "Success Audit\tDC25-PREVIEW\tLogon\t\t"
               "An account was successfully logged on.    Subject:   "
               "Security ID:  S-1-5-18   Account Name:  SYSTEM    "
               "Logon Information:   Logon Type:  2    Network "
               "Information:   Source Network Address: 192.168.50.12")
    rfc3164 = ("2017\t4625\tMicrosoft-Windows-Security-Auditing\tN/A\t"
               "N/A\tFailure Audit\tWS-01\tLogon\t\tfailed")
    rows = mmsnareparse(
        spark.createDataFrame([(rfc5424,), (rfc3164,), ("short msg",)],
                              "msg string")
    ).collect()
    w = rows[0].win
    assert w.EventID == 4624
    assert w.Provider == "Microsoft-Windows-Security-Auditing"
    assert w.EventType == "Success Audit" and w.Computer == "DC25-PREVIEW"
    assert w.Category == "Logon" and w.Channel == "Security"
    assert w.RecordNumber == 802301
    assert w.Description.startswith("An account was successfully")
    # description sections parsed into Section.Key fields
    # (mmsnareparse.c's per-section walk)
    f = rows[0].win_fields
    assert f["Subject.Security ID"] == "S-1-5-18"
    assert f["Subject.Account Name"] == "SYSTEM"
    assert f["Logon Information.Logon Type"] == "2"
    assert f["Network Information.Source Network Address"] == \
        "192.168.50.12"
    w2 = rows[1].win
    assert w2.EventID == 4625 and w2.EventType == "Failure Audit"
    assert w2.Computer == "WS-01" and w2.Channel is None
    assert not rows[2].win_success and rows[2].win is None


# golden fixtures modeled on tests/mmsnareparse-basic.sh /
# mmsnareparse-realworld-4624-4634-5140.sh corpus shapes
_SNARE_4624 = (
    "MSWinEventLog\t1\tSecurity\t802301\tTue Feb 18 06:42:17 2025\t4624\t"
    "Microsoft-Windows-Security-Auditing\tN/A\tN/A\tSuccess Audit\t"
    "DC25-PREVIEW\tLogon\t\t"
    "An account was successfully logged on.    Subject:   "
    "Security ID:  S-1-5-18   Account Name:  SYSTEM   "
    "Account Domain:  NT AUTHORITY   Logon ID:  0x3E7    "
    "Logon Information:   Logon Type:  2   Restricted Admin Mode: -   "
    "Virtual Account:  %%1843   Elevated Token:  %%1843    "
    "New Logon:   Security ID:  S-1-5-21-88997766-500   "
    "Account Name:  ADMIN-LAPS$   Account Domain:  FABRIKAM   "
    "Logon ID:  0x52F1A   Linked Logon ID:  0x0   "
    "Logon GUID:  {5a8f0679-9b23-4cb7-a8c7-3d650c9b52ec}    "
    "Process Information:   Process ID:  0x66c   "
    "Process Name:  C:\\Windows\\System32\\winlogon.exe    "
    "Network Information:   Workstation Name:  CORE25-01   "
    "Source Network Address: 192.168.50.12   Source Port:  59122    "
    "Detailed Authentication Information:   Logon Process:  User32   "
    "Authentication Package:  Negotiate   Key Length:  0"
)
_SNARE_4625 = (
    "MSWinEventLog\t1\tSecurity\t802302\tTue Feb 18 06:43:02 2025\t4625\t"
    "Microsoft-Windows-Security-Auditing\tN/A\tN/A\tFailure Audit\t"
    "DC25-PREVIEW\tLogon\t\t"
    "An account failed to log on.    Subject:   Security ID:  S-1-0-0   "
    "Account Name: -   Account Domain: -    Logon Information:   "
    "Logon Type:  3    Failure Information:   "
    "Failure Reason:  Unknown user name or bad password.   "
    "Status:  0xC000006D   Sub Status:  0xC0000064    "
    "Network Information:   Workstation Name:  EDGE25-01   "
    "Source Network Address: 10.15.5.20   Source Port:  57912"
)
_SNARE_5157 = (
    "MSWinEventLog\t1\tSecurity\t301221\tTue Feb 18 07:01:55 2025\t5157\t"
    "Microsoft-Windows-Security-Auditing\tN/A\tN/A\tFailure Audit\t"
    "EDGE25-01\tFiltering Platform Packet Drop\t\t"
    "The Windows Filtering Platform has blocked a connection.    "
    "Network Information:   Direction:  Outbound   "
    "Source Address:  10.15.5.20   Destination Port:  443"
)
_SNARE_4634 = (  # not in g_eventMappings -> Outcome derives from EventType
    "MSWinEventLog\t1\tSecurity\t802309\tTue Feb 18 06:50:00 2025\t4634\t"
    "Microsoft-Windows-Security-Auditing\tN/A\tN/A\tSuccess Audit\t"
    "DC25-PREVIEW\tLogoff\t\tAn account was logged off."
)


def test_snare_event_metadata(spark):
    """mmsnareparse.c apply_event_mapping (g_eventMappings:563-632),
    g_logonTypeMap LogonTypeName (lookup_logon_description:3667-3671),
    logon field promotion (g_coreFieldPatterns:198-270), and the
    4624/4625 required-fields validation (:4851-4860) — golden units
    per mapped event type over the module's test corpus shapes."""
    from rsyslog_spark.parsing.devices import (
        mmsnareparse, snare_event_metadata,
    )

    df = spark.createDataFrame(
        [(_SNARE_4624,), (_SNARE_4625,), (_SNARE_5157,), (_SNARE_4634,)],
        "msg string",
    )
    rows = snare_event_metadata(mmsnareparse(df)).collect()

    r = rows[0]  # 4624 Logon/Success
    assert (r.win_event.Category, r.win_event.Subtype,
            r.win_event.Outcome) == ("Logon", "Success", "success")
    lg = r.win_logon
    assert lg.LogonType == 2 and lg.LogonTypeName == "Interactive"
    assert lg.Subject.SecurityID == "S-1-5-18"
    assert lg.Subject.AccountName == "SYSTEM"
    assert lg.Subject.AccountDomain == "NT AUTHORITY"
    assert lg.Subject.LogonID == "0x3E7"
    assert lg.NewLogon.AccountName == "ADMIN-LAPS$"
    assert lg.NewLogon.AccountDomain == "FABRIKAM"
    assert lg.LinkedLogonID == "0x0"
    assert lg.LogonGUID == "{5a8f0679-9b23-4cb7-a8c7-3d650c9b52ec}"
    assert lg.WorkstationName == "CORE25-01"
    assert lg.SourceNetworkAddress == "192.168.50.12"
    assert lg.SourcePort == 59122
    assert lg.ProcessName == "C:\\Windows\\System32\\winlogon.exe"
    assert lg.LogonProcess == "User32"
    assert lg.AuthenticationPackage == "Negotiate"
    assert lg.KeyLength == 0
    assert lg.RestrictedAdminMode is None          # '-' placeholder
    assert lg.VirtualAccount == "%%1843"
    assert r.win_valid

    r = rows[1]  # 4625 Logon/Failure with failure block
    assert (r.win_event.Category, r.win_event.Subtype,
            r.win_event.Outcome) == ("Logon", "Failure", "failure")
    lg = r.win_logon
    assert lg.LogonType == 3 and lg.LogonTypeName == "Network"
    assert lg.Subject.AccountName is None           # '-' placeholder
    assert lg.FailureReason == "Unknown user name or bad password."
    assert lg.Status == "0xC000006D" and lg.SubStatus == "0xC0000064"
    assert lg.SourceNetworkAddress == "10.15.5.20"
    assert r.win_valid                              # required fields present

    r = rows[2]  # 5157 FilteringPlatform/PacketDrop (mapped, non-logon)
    assert (r.win_event.Category, r.win_event.Subtype,
            r.win_event.Outcome) == (
        "FilteringPlatform", "PacketDrop", "failure")
    assert r.win_logon is None and r.win_valid

    r = rows[3]  # 4634: unmapped -> derive_outcome('Success Audit')
    assert r.win_event.Category is None and r.win_event.Subtype is None
    assert r.win_event.Outcome == "success"
    assert r.win_logon is None and r.win_valid


_SNARE_4769 = (  # tests/testsuites/mmsnareparse/sample-events.data shape
    "MSWinEventLog\t1\tSecurity\t556603\tSun Apr 07 11:23:41 2024\t4769\t"
    "Microsoft-Windows-Security-Auditing\tN/A\tN/A\tSuccess Audit\t"
    "DC19-CORE\tKerberos Service Ticket\t\t"
    "A Kerberos service ticket was requested.    "
    "Account Information:   Account Name:  a.rodriguez   "
    "Account Domain:  FABRIKAM   "
    "Logon GUID:  {00000000-0000-0000-0000-000000000000}    "
    "Service Information:   Service Name:  HTTP/SPApp19.fabricam.com   "
    "Service ID:  -    Network Information:   "
    "Client Address:  172.16.14.21   Client Port:  55231    "
    "Additional Information:   Ticket Options:  0x60810010   "
    "Result Code:  0x0   Ticket Encryption Type:  0x12   "
    "Pre-Authentication Type:  15   Certificate Information:  -"
)
_SNARE_4688 = (
    "MSWinEventLog\t1\tSecurity\t700100\tTue Feb 18 08:00:00 2025\t4688\t"
    "Microsoft-Windows-Security-Auditing\tN/A\tN/A\tSuccess Audit\t"
    "WS-07\tProcess Creation\t\t"
    "A new process has been created.    Subject:   "
    "Security ID:  S-1-5-21-1111-500   Account Name:  jdoe   "
    "Account Domain:  CONTOSO   Logon ID:  0x8F21A    "
    "Process Information:   New Process ID:  0x1a0c   "
    "New Process Name:  C:\\Windows\\System32\\cmd.exe   "
    "Token Elevation Type:  %%1938   Mandatory Label:  S-1-16-8192   "
    "Creator Process ID:  0xbfc   "
    "Creator Process Name:  C:\\Windows\\explorer.exe   "
    "Process Command Line:  cmd /c whoami"
)
_SNARE_4672 = (
    "MSWinEventLog\t1\tSecurity\t700200\tTue Feb 18 08:01:00 2025\t4672\t"
    "Microsoft-Windows-Security-Auditing\tN/A\tN/A\tSuccess Audit\t"
    "DC25-PREVIEW\tSpecial Logon\t\t"
    "Special privileges assigned to new logon.    Subject:   "
    "Security ID:  S-1-5-18   Account Name:  SYSTEM   "
    "Account Domain:  NT AUTHORITY   Logon ID:  0x3E7   "
    "Privileges:  SeSecurityPrivilege   SeBackupPrivilege   "
    "SeRestorePrivilege   SeTakeOwnershipPrivilege"
)


def test_snare_event_metadata_process_priv_kerberos(spark):
    """r4 event-type extensions: 4688 process-creation fields, the
    4672 privilege-name LIST collection (sectionBehaviorList,
    mmsnareparse.c:4274-4280), and the Kerberos 4769 fields the
    reference's own kerberos test extracts (mmsnareparse-kerberos.sh
    content_checks over sample-events.data)."""
    from rsyslog_spark.parsing.devices import (
        mmsnareparse, snare_event_metadata,
    )

    df = spark.createDataFrame(
        [(_SNARE_4769,), (_SNARE_4688,), (_SNARE_4672,)], "msg string"
    )
    rows = snare_event_metadata(mmsnareparse(df)).collect()

    k = rows[0].win_kerberos  # 4769 — the reference test's checks
    assert rows[0].win_event.Category == "Kerberos"
    assert rows[0].win_event.Subtype == "ServiceTicket"
    assert k.AccountName == "a.rodriguez" and k.AccountDomain == "FABRIKAM"
    assert k.ServiceName == "HTTP/SPApp19.fabricam.com"
    assert k.ServiceID is None                      # '-' placeholder
    assert k.ClientAddress == "172.16.14.21" and k.ClientPort == 55231
    assert k.TicketOptions == "0x60810010" and k.ResultCode == "0x0"
    assert k.TicketEncryptionType == "0x12"
    assert k.PreAuthenticationType == "15"
    assert k.CertificateInfo is None                # '-' placeholder
    assert rows[0].win_logon is None and rows[0].win_process is None

    p = rows[1].win_process  # 4688
    assert rows[1].win_event.Subtype == "Creation"
    assert p.Subject.AccountName == "jdoe"
    assert p.NewProcessID == "0x1a0c"
    assert p.NewProcessName == "C:\\Windows\\System32\\cmd.exe"
    assert p.TokenElevationType == "%%1938"
    assert p.MandatoryLabel == "S-1-16-8192"
    assert p.CreatorProcessName == "C:\\Windows\\explorer.exe"
    assert p.ProcessCommandLine == "cmd /c whoami"

    r = rows[2]  # 4672: bare segments after 'Privileges:' accumulate
    assert r.win_event.Category == "Privilege"
    assert r.win_privileges == (
        "SeSecurityPrivilege,SeBackupPrivilege,"
        "SeRestorePrivilege,SeTakeOwnershipPrivilege"
    )


def test_snare_event_metadata_validation(spark):
    """validate_required_fields: a 4624 whose description lacks the
    Subject account block fails win_valid (strict-mode gate)."""
    from rsyslog_spark.parsing.devices import (
        mmsnareparse, snare_event_metadata,
    )

    bad = ("MSWinEventLog\t1\tSecurity\t99\tTue Feb 18 06:42:17 2025\t"
           "4624\tMicrosoft-Windows-Security-Auditing\tN/A\tN/A\t"
           "Success Audit\tHOST\tLogon\t\tAn account was logged on.")
    r = snare_event_metadata(mmsnareparse(
        spark.createDataFrame([(bad,)], "msg string")
    )).first()
    assert not r.win_valid
    assert r.win_event.Outcome == "success"


def test_pmcisconames(spark):
    """pmcisconames.c: strip the orphaned ':' between hostname and the
    %-tag; both short and year timestamps accepted."""
    from rsyslog_spark.parsing.devices import pmcisconames

    rows = pmcisconames(_parsed(spark, [
        "<189>Oct 11 10:12:13 fw01 : %ASA-6-302013: Built outbound TCP",
        "<189>Oct 11 2024 10:12:13 fw02 : %ASA-4-106023: Deny tcp src",
        "<189>Oct 11 10:12:13 host9 app: ordinary",
    ])).collect()
    assert rows[0].hostname == "fw01"
    assert rows[0].syslogtag == "%ASA-6-302013:"
    assert rows[0].programname == "%ASA-6-302013"
    assert rows[0].msg == "Built outbound TCP"
    assert rows[1].hostname == "fw02" and rows[1].msg == "Deny tcp src"
    assert rows[2].hostname is None


def test_mmsnmptrapd(spark):
    """mmsnmptrapd.c: tag 'snmptrapd/<sev>/<host>:' → TAG reset,
    HOSTNAME from tag, severity via user mapping; unmapped severity
    strings leave severity untouched."""
    from pyspark.sql import functions as F

    from rsyslog_spark.parsing.devices import mmsnmptrapd

    df = spark.createDataFrame(
        [("snmptrapd/warning/router9:", "h0", 6),
         ("snmptrapd/weird/sw1:", "h0", 6),
         ("sshd[1]:", "h0", 6)],
        "syslogtag string, hostname string, severity int",
    )
    rows = mmsnmptrapd(
        df, severity_mapping={"warning": 4, "error": 3}
    ).collect()
    assert rows[0].syslogtag == "snmptrapd:"
    assert rows[0].hostname == "router9" and rows[0].severity == 4
    assert rows[1].hostname == "sw1" and rows[1].severity == 6  # unmapped
    assert rows[2].syslogtag == "sshd[1]:" and rows[2].hostname == "h0"


def test_mmaitag(spark):
    """mmaitag.rst label set via the deterministic heuristic provider;
    the external provider's API boundary is explicit."""
    import pytest

    from rsyslog_spark.parsing.devices import AITAG_LABELS, mmaitag

    df = spark.createDataFrame(
        [("kernel panic - not syncing",), ("connection refused by peer",),
         ("debug: cache warm",), ("user logged in",)],
        "msg string",
    )
    rows = mmaitag(df).collect()
    assert [r.aitag for r in rows] == [
        "CRITICAL", "IMPORTANT", "NOISE", "REGULAR"
    ]
    assert all(r.aitag in AITAG_LABELS for r in rows)
    with pytest.raises(NotImplementedError, match="external"):
        mmaitag(df, provider="external")


# TLS / LAPS / WDAC / WUFB section fixtures — the exact payloads from
# tests/mmsnareparse-basic.sh:41-44 (RCG + LAPS on 4624, TLS on 5157,
# WDAC 6281, WUFB 1243)
_SNARE_4624_LAPS = (
    "MSWinEventLog\t1\tSecurity\t802301\tTue Feb 18 06:42:17 2025\t4624\t"
    "Microsoft-Windows-Security-Auditing\tN/A\tN/A\tSuccess Audit\t"
    "DC25-PREVIEW\tLogon\t\t"
    "An account was successfully logged on.    Subject:   "
    "Security ID:  S-1-5-18   Account Name:  SYSTEM   "
    "Account Domain:  NT AUTHORITY   Logon ID:  0x3E7    "
    "Logon Information:   Logon Type:  2    New Logon:   "
    "Security ID:  S-1-5-21-88997766-500   Account Name:  ADMIN-LAPS$   "
    "Account Domain:  FABRIKAM    Detailed Authentication Information:   "
    "Logon Process:  User32   Authentication Package:  Negotiate   "
    "Key Length:  0    Remote Credential Guard:  Enabled    "
    "LAPS Context:  PolicyVersion=2; CredentialRotation=True"
)
_SNARE_5157_TLS = (
    "MSWinEventLog\t1\tSecurity\t301221\tTue Feb 18 07:01:55 2025\t5157\t"
    "Microsoft-Windows-Security-Auditing\tN/A\tN/A\tFailure Audit\t"
    "EDGE25-01\tFiltering Platform Packet Drop\t\t"
    "The Windows Filtering Platform has blocked a connection.    "
    "Application Information:   Process ID:  948    "
    "Filter Information:   Filter Run-Time ID:  89041   "
    "Layer Name:  %%14596   Layer Run-Time ID:  44    "
    "TLS Inspection:   Reason:  Unapproved Root Authority   "
    "Policy:  ContosoOutboundTLS"
)
_SNARE_6281 = (
    "MSWinEventLog\t1\tSecurity\t402991\tTue Feb 18 07:05:44 2025\t6281\t"
    "Microsoft-Windows-CodeIntegrity\tN/A\tN/A\tError\tAPP25-API\t"
    "Application Control\t\t"
    "Code Integrity determined that a process attempted to load a DLL "
    "that did not meet the Enterprise signing level requirements.    "
    "Policy Name:  FABRIKAM-WDAC-BaseV3   Policy Version:  3.2.0   "
    "Enforcement Mode:  Audit+Enforce   User:  FABRIKAM\\svc_batch   "
    "PID:  4128"
)
_SNARE_1243 = (
    "MSWinEventLog\t1\tSecurity\t802340\tTue Feb 18 06:59:13 2025\t1243\t"
    "Microsoft-Windows-WindowsUpdateClient\tN/A\tN/A\tInformation\t"
    "DC25-PREVIEW\tWUFB Deployment\t\t"
    "Windows Update for Business deployment policy enforced.    "
    "Policy ID:  2f9c4414-3f71-4f2b-9a7e-cc98a6d96970   "
    "Ring:  SecureBaseline   "
    "From Service:  Windows Update for Business deployment service   "
    "Enforcement Result:  Success"
)


def test_snare_tls_laps_wdac_sections(spark):
    """TLS/LAPS/WDAC/WUFB section promotion (mmsnareparse.c section
    descriptors :539-548, field tables :345-400) over the
    tests/mmsnareparse-basic.sh fixture payloads."""
    from rsyslog_spark.parsing.devices import (
        mmsnareparse, snare_event_metadata,
    )

    df = spark.createDataFrame(
        [(l,) for l in (_SNARE_4624_LAPS, _SNARE_5157_TLS,
                        _SNARE_6281, _SNARE_1243)],
        "msg string",
    )
    rows = {r.win.EventID: r
            for r in snare_event_metadata(mmsnareparse(df)).collect()}

    # 4624: inline Remote Credential Guard + semicolon LAPS Context
    r = rows[4624]
    assert r.win_rcg.Enabled is True and r.win_rcg.Status == "Enabled"
    assert r.win_logon.RemoteCredentialGuard is True
    assert r.win_laps.PolicyVersion == 2
    assert r.win_laps.CredentialRotation is True
    assert r.win_laps.LAPSContext is None
    # the inline sections must NOT leak into the preceding section
    assert "Detailed Authentication Information.Remote Credential Guard" \
        not in r.win_fields
    assert r.win_fields[
        "Detailed Authentication Information.Authentication Package"
    ] == "Negotiate"

    # 5157: TLS Inspection standard section
    t = rows[5157]
    assert t.win_tls.Reason == "Unapproved Root Authority"
    assert t.win_tls.Policy == "ContosoOutboundTLS"
    assert t.win_laps is None and t.win_rcg is None
    assert t.win_fields["Filter Information.Filter Run-Time ID"] == "89041"

    # 6281: WDAC enforcement (g_event6281FieldPatterns)
    w = rows[6281]
    assert w.win_event.Category == "WDAC"
    assert w.win_wdac.PolicyName == "FABRIKAM-WDAC-BaseV3"
    assert w.win_wdac.PolicyVersion == "3.2.0"
    assert w.win_wdac.EnforcementMode == "Audit+Enforce"
    assert w.win_wdac.User == "FABRIKAM\\svc_batch"
    assert w.win_wdac.PID == 4128 and w.win_wdac.PIDRaw is None

    # 1243: WUFB deployment (g_event1243FieldPatterns)
    u = rows[1243]
    assert u.win_event.Category == "WindowsUpdate"
    assert u.win_wufb.PolicyID == "2f9c4414-3f71-4f2b-9a7e-cc98a6d96970"
    assert u.win_wufb.Ring == "SecureBaseline"
    assert u.win_wufb.EnforcementResult == "Success"


def test_snare_sections_gated(spark):
    """sections= mirrors enableLaps/enableTls/enableWdac — a dropped
    flag nulls the section column (should_capture_section, c:2931)."""
    from rsyslog_spark.parsing.devices import (
        mmsnareparse, snare_event_metadata,
    )

    df = spark.createDataFrame(
        [(_SNARE_4624_LAPS,), (_SNARE_5157_TLS,), (_SNARE_6281,)],
        "msg string",
    )
    rows = {r.win.EventID: r for r in snare_event_metadata(
        mmsnareparse(df), sections=("wufb",)
    ).collect()}
    assert rows[4624].win_laps is None
    assert rows[5157].win_tls is None
    assert rows[6281].win_wdac is None


def test_snare_description_prose_holding_separator(spark):
    """A prose segment that holds \\x01 but matches no 'Key:' shape
    stays prose: it neither opens a section nor lands as a field."""
    from pyspark.sql import functions as F

    from rsyslog_spark.parsing.devices import snare_description_fields

    df = spark.createDataFrame(
        [("Subject:   foo\x01bar   Account Name:  x",)], "d string",
    )
    rows = df.select(snare_description_fields(F.col("d")).alias("f")).collect()
    assert rows[0].f == {"Subject.Account Name": "x"}
