"""The reference crawler's item declarations, as data: each
``scrapy.Item`` class of ``nrsr/items.py`` with its fields in declaration
order and each field's output-processor fold.  ``tests/test_items.py``
checks the engine's ``items`` module against this table on every checkout,
and also against the reference source itself where it is checked out.

Folds: ``TakeFirst()`` → take_first, ``Join()`` → join, no output
processor → keep_list.
"""

TF, JOIN, KEEP = "take_first", "join", "keep_list"

# class → [(field, fold)], in declaration order
REFERENCE_ITEMS: dict[str, list[tuple[str, str]]] = {
    "ClubItem": [
        ("type", TF), ("external_id", TF), ("name", TF), ("email", TF),
        ("period_num", TF), ("members", KEEP), ("url", TF),
    ],
    "DailyClubItem": [
        ("type", TF), ("period_num", TF), ("date", TF), ("clubs", KEEP),
    ],
    "MemberItem": [
        ("type", TF), ("external_id", TF), ("forename", TF), ("surname", TF),
        ("title", JOIN), ("stood_for_party", TF), ("born", TF), ("nationality", JOIN),
        ("residence", JOIN), ("county", JOIN), ("email", JOIN), ("images", KEEP),
        ("image_urls", KEEP), ("period_num", TF), ("url", TF), ("memberships", KEEP),
    ],
    "MemberChangeItem": [
        ("type", TF), ("period_num", TF), ("date", TF), ("external_id", TF),
        ("change_type", TF), ("change_reason", TF),
    ],
    "DebateAppearanceItem": [
        ("type", TF), ("external_id", TF), ("period_num", TF), ("debater_name", TF),
        ("debater_party", TF), ("debater_role", TF), ("start", TF), ("end", TF),
        ("session_num", TF), ("press_num", KEEP), ("appearance_type", JOIN),
        ("appearance_type_addition", JOIN), ("text", KEEP), ("video_short_url", TF),
        ("video_long_url", TF),
    ],
    "HourOfQuestionsItem": [
        ("type", TF), ("period_num", TF), ("status", TF), ("external_id", TF),
        ("question_by", TF), ("question_date", TF), ("recipient", TF), ("question", TF),
        ("answer_date", TF), ("answer_by", TF), ("answer", TF),
        ("additional_question", TF), ("additional_answer", TF), ("url", TF),
    ],
    "AmendmentItem": [
        ("type", TF), ("external_id", TF), ("period_num", TF), ("press_num", TF),
        ("session_num", TF), ("title", TF), ("submitter", TF),
        ("other_submitters", KEEP), ("date", TF), ("signed_members", KEEP),
        ("voting_external_id", TF), ("attachments_names", KEEP),
        ("attachments_urls", KEEP), ("attachments", KEEP), ("url", TF),
    ],
    "InterpellationItem": [
        ("type", TF), ("period_num", TF), ("status", TF), ("asked_by", TF),
        ("external_id", TF), ("description", TF), ("recipients", KEEP), ("date", TF),
        ("interpellation_session_num", TF), ("response_session_num", TF),
        ("responded_by", TF), ("press_num", TF), ("url", TF),
        ("attachments_names", KEEP), ("attachments_urls", KEEP), ("attachments", KEEP),
    ],
    "PressItem": [
        ("type", KEEP), ("title", KEEP), ("press_num", KEEP), ("group_num", KEEP),
        ("period_num", KEEP), ("press_type", KEEP), ("date", KEEP),
        ("attachments_names", KEEP), ("attachments_urls", KEEP), ("attachments", KEEP),
        ("url", TF),
    ],
    "SessionItem": [
        ("type", TF), ("external_id", TF), ("name", TF), ("attachment_names", KEEP),
        ("attachments_urls", KEEP), ("attachments", KEEP), ("program_points", KEEP),
        ("period_num", KEEP), ("url", TF),
    ],
    "VotingItem": [
        ("type", TF), ("external_id", TF), ("topic", TF), ("datetime", TF),
        ("session_num", TF), ("voting_num", TF), ("period_num", TF), ("press_num", TF),
        ("press_url", TF), ("result", TF), ("votes", KEEP), ("url", TF),
    ],
    "BillItem": [
        ("type", TF), ("period_num", TF), ("external_id", TF), ("proposer", TF),
        ("delivered", TF), ("press_num", TF), ("current_state", TF),
        ("current_result", TF), ("category_name", TF), ("url", TF),
    ],
    "BillStepItem": [
        ("type", TF), ("step_type", TF), ("changes", KEEP), ("bill_id", TF),
        ("external_id", TF), ("main_label", TF), ("body_label", TF),
        ("meeting_panel", TF), ("meeting_session_num", TF), ("meeting_resolution", TF),
        ("committees_label", TF), ("slk_label", TF), ("coordinator_label", TF),
        ("coordinator_meeting_date", TF), ("coordinator_name", TF), ("step_result", TF),
        ("discussed_label", TF), ("sent_standpoint", TF), ("sent_label", TF),
        ("act_num_label", TF), ("url", TF),
    ],
    "CommitteeItem": [
        ("type", TF), ("period_num", TF), ("name", TF), ("description", KEEP),
        ("members", KEEP), ("url", TF), ("external_id", TF),
    ],
    "CommitteeScheduleItem": [
        ("type", TF), ("period_num", TF), ("committee_name", TF), ("date", TF),
        ("time", TF), ("place", KEEP), ("points", KEEP),
    ],
}

# nested child items (list-valued fields on their parents): field names only
REFERENCE_CHILD_FIELDS: dict[str, list[str]] = {
    "ClubMemberItem": ["external_id", "membership"],
    "VotingVoteItem": ["external_id", "vote"],
    "BillStepChangeItem": ["date", "author", "detail", "attachment_title", "attachment_url"],
}
