package com.example.extensions.utils

import com.example.extensions.entities.ExtendMe

fun ExtendMe.reverse() = ExtendMe(value.reversed())

val ExtendMe.reversed: ExtendMe
    get() = ExtendMe(value.reversed())
